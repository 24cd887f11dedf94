"""LaTeX-math -> MathML converter (E3's latex2mathml-success path).

The reference converts formula text with ``latex2mathml.converter.
convert_to_element`` (transforms/serializer/html.py:256-334) and falls
back to ``<pre>`` when the converter raises. That package is not in
this container, so this module implements the conversion FROM SCRATCH
for the LaTeX-math grammar subset below, following latex2mathml's
published output conventions:

* every run wrapped in a top-level ``<mrow>``;
* letters -> ``<mi>``, digit/decimal runs -> ``<mn>``, operators ->
  ``<mo>`` whose text is the 5-hex-digit numeric character reference
  (``=`` -> ``&#x0003D;``, U+2211 -> ``&#x02211;``);
* ``^``/``_`` -> msup/msub/msubsup (normalized base, sub, sup order),
  with munder/mover/munderover for movable-limit big operators
  (``\\sum``, ``\\prod``);
* ``\\frac{A}{B}`` -> ``<mfrac>`` with each argument mrow-wrapped;
* brace groups -> ``<mrow>``;
* plain fences ``( ) [ ] | \\{ \\}`` -> ``<mo stretchy="false">`` with
  the delimiter's numeric reference (r4: the round-3 subset rejected
  ubiquitous ``f(x)``);
* ``\\left DELIM ... \\right DELIM`` -> an ``<mrow>`` whose delimiters
  are ``<mo stretchy="true" fence="true" form="prefix|postfix">``;
* ``\\sqrt{X}`` -> ``<msqrt><mrow>X</mrow></msqrt>``;
  ``\\sqrt[N]{X}`` -> ``<mroot>`` (base mrow first, then index mrow);
* ``\\text{...}`` -> ``<mtext>`` with interior spaces as
  ``&#x000A0;``;
* (r5) ``\\begin{matrix|pmatrix|bmatrix|vmatrix|cases}`` ->
  ``<mtable>/<mtr>/<mtd>`` with mrow-wrapped cells, the fenced
  variants wrapped in the \\left/\\right-style stretchy ``<mo>``
  pair and ``cases`` left-aligned with a prefix brace;
* (r5) accents ``\\hat/\\bar/\\vec/\\tilde/\\dot/\\overrightarrow``
  -> ``<mover>`` with a non-stretchy accent ``<mo>``.

What is pinned BYTE-FOR-BYTE against the reference's committed
goldens, which were generated with the real latex2mathml, is the pre-r5
subset those goldens exercise: ``\\frac{1}{x}``
(test/data/docling_document/export/formula_mathml.html) and the
``E=mc^2`` inline/block exports inside test/data/doc/
constructed_doc*.html - see tests/test_mathml.py. The r5 matrix,
``cases`` and accent output (and the r4 fences, roots and ``\\text``)
is checked only against hand-written fragments in that test:
latex2mathml is not importable here, so those conventions are not
confirmed against the real converter. Grammar outside the subset
raises :class:`UnsupportedLatex`, which callers translate into
the reference's own exception fallback (``<pre>``): a stock install
would convert more grammar than we pin, and that residual divergence
is the documented limit of this implementation, not hidden behind a
silent wrong answer.

tests/refstubs.py wires ``latex2mathml.converter.convert_to_element``
to :func:`convert_to_element`, so the LIVE reference serializer runs
through this converter in the parity suites - engine and reference
share one conversion path and the tests check the surrounding
byte-exact plumbing (annotation element, tostring+unescape, div
wrapping) call-for-call.
"""

from __future__ import annotations

from typing import List, Optional, Tuple
from xml.etree.ElementTree import Element, SubElement, tostring
from xml.sax.saxutils import unescape


class UnsupportedLatex(ValueError):
    """Grammar outside the pinned subset (caller falls back to <pre>,
    the reference's behavior when latex2mathml raises)."""


def _ref(cp: int) -> str:
    return f"&#x{cp:05X};"


# operator characters -> codepoint (latex2mathml maps '-' to MINUS
# SIGN U+2212; the rest keep their own codepoint)
_OPERATOR_CHARS = {
    "=": 0x3D, "+": 0x2B, "-": 0x2212, "*": 0x2A, "/": 0x2F,
    ",": 0x2C, ";": 0x3B, ":": 0x3A, "!": 0x21, "<": 0x3C, ">": 0x3E,
}

# delimiter name -> codepoint; plain occurrences render as
# <mo stretchy="false">, \left/\right occurrences as stretchy fences
_FENCES = {
    "(": 0x28, ")": 0x29, "[": 0x5B, "]": 0x5D, "|": 0x7C,
    "lbrace": 0x7B, "rbrace": 0x7D,
}

_GREEK = {
    "alpha": 0x3B1, "beta": 0x3B2, "gamma": 0x3B3, "delta": 0x3B4,
    "epsilon": 0x3F5, "zeta": 0x3B6, "eta": 0x3B7, "theta": 0x3B8,
    "iota": 0x3B9, "kappa": 0x3BA, "lambda": 0x3BB, "mu": 0x3BC,
    "nu": 0x3BD, "xi": 0x3BE, "pi": 0x3C0, "rho": 0x3C1,
    "sigma": 0x3C3, "tau": 0x3C4, "upsilon": 0x3C5, "phi": 0x3D5,
    "chi": 0x3C7, "psi": 0x3C8, "omega": 0x3C9,
    "Gamma": 0x393, "Delta": 0x394, "Theta": 0x398, "Lambda": 0x39B,
    "Xi": 0x39E, "Pi": 0x3A0, "Sigma": 0x3A3, "Phi": 0x3A6,
    "Psi": 0x3A8, "Omega": 0x3A9,
}

# command -> (codepoint, movable_limits)
_MO_COMMANDS = {
    "sum": (0x2211, True), "prod": (0x220F, True),
    "int": (0x222B, False), "infty": (0x221E, False),
    "cdot": (0x22C5, False), "times": (0xD7, False),
    "pm": (0xB1, False), "leq": (0x2264, False),
    "geq": (0x2265, False), "neq": (0x2260, False),
    "rightarrow": (0x2192, False), "to": (0x2192, False),
    "partial": (0x2202, False),
    # round-4 widening: contour/multiple integrals, set relations,
    # binary/logic operators, arrows - all plain <mo> symbols in the
    # published converter's table (unimathsymbols), movable=False
    # like \int
    "oint": (0x222E, False), "iint": (0x222C, False),
    "iiint": (0x222D, False),
    "in": (0x2208, False), "notin": (0x2209, False),
    "subset": (0x2282, False), "supset": (0x2283, False),
    "subseteq": (0x2286, False), "supseteq": (0x2287, False),
    "cup": (0x222A, False), "cap": (0x2229, False),
    "approx": (0x2248, False), "sim": (0x223C, False),
    "equiv": (0x2261, False), "propto": (0x221D, False),
    "ll": (0x226A, False), "gg": (0x226B, False),
    "oplus": (0x2295, False), "otimes": (0x2297, False),
    "wedge": (0x2227, False), "vee": (0x2228, False),
    "leftarrow": (0x2190, False), "leftrightarrow": (0x2194, False),
    "Rightarrow": (0x21D2, False), "Leftarrow": (0x21D0, False),
    "Leftrightarrow": (0x21D4, False), "mapsto": (0x21A6, False),
}

# round-5 widening (VERDICT r4 item 3): environments + accents.
# environment -> (open fence, close fence); None = bare mtable
_ENVIRONMENTS = {
    "matrix": (None, None),
    "pmatrix": ("(", ")"),
    "bmatrix": ("[", "]"),
    "vmatrix": ("|", "|"),
    "cases": ("lbrace", None),
}

# accent command -> <mover> accent codepoint (hat = CIRCUMFLEX
# ACCENT, bar = MACRON, vec/overrightarrow = RIGHTWARDS ARROW,
# tilde = SMALL TILDE, dot = DOT ABOVE)
_ACCENTS = {
    "hat": 0x5E, "bar": 0xAF, "vec": 0x2192,
    "overrightarrow": 0x2192, "tilde": 0x2DC, "dot": 0x2D9,
}

# \mathbb{X} -> double-struck letter (<mi>), the published
# converter's per-letter symbol entries; non-BMP block at U+1D538
# with the six Letterlike Symbols exceptions
_MATHBB_EXCEPTIONS = {
    "C": 0x2102, "H": 0x210D, "N": 0x2115, "P": 0x2119,
    "Q": 0x211A, "R": 0x211D, "Z": 0x2124,
}


def _mathbb_cp(ch: str) -> int:
    if ch in _MATHBB_EXCEPTIONS:
        return _MATHBB_EXCEPTIONS[ch]
    if "A" <= ch <= "Z":
        return 0x1D538 + ord(ch) - ord("A")
    if "a" <= ch <= "z":
        return 0x1D552 + ord(ch) - ord("a")
    raise UnsupportedLatex(f"\\mathbb{{{ch}}}")


def _tokenize(latex: str) -> List[Tuple[str, str]]:
    out: List[Tuple[str, str]] = []
    i, n = 0, len(latex)
    while i < n:
        ch = latex[i]
        if ch.isspace():
            i += 1
        elif ch == "\\":
            j = i + 1
            while j < n and latex[j].isalpha():
                j += 1
            if j == i + 1:
                if i + 1 < n and latex[i + 1] in "{}":
                    out.append(("fence", "lbrace" if latex[i + 1] == "{"
                                else "rbrace"))
                    i += 2
                    continue
                if i + 1 < n and latex[i + 1] == "\\":
                    # row separator (only meaningful inside an
                    # environment; the parser rejects it elsewhere)
                    out.append(("rowsep", ""))
                    i += 2
                    continue
                raise UnsupportedLatex(f"escape {latex[i:i+2]!r}")
            name = latex[i + 1:j]
            if name in ("begin", "end"):
                # raw-read the braced environment name
                k = j
                while k < n and latex[k].isspace():
                    k += 1
                if k >= n or latex[k] != "{":
                    raise UnsupportedLatex(f"\\{name} needs {{")
                m = latex.find("}", k + 1)
                if m < 0:
                    raise UnsupportedLatex(f"unclosed \\{name}")
                out.append((name, latex[k + 1:m]))
                i = m + 1
                continue
            if name == "text":
                # raw-read the braced argument (spaces significant)
                k = j
                while k < n and latex[k].isspace():
                    k += 1
                if k >= n or latex[k] != "{":
                    raise UnsupportedLatex("\\text needs {")
                m = latex.find("}", k + 1)
                if m < 0:
                    raise UnsupportedLatex("unclosed \\text")
                out.append(("mtext", latex[k + 1:m]))
                i = m + 1
                continue
            out.append(("cmd", name))
            i = j
        elif ch.isalpha():
            out.append(("mi", ch))
            i += 1
        elif ch.isdigit():
            j = i
            while j < n and (latex[j].isdigit() or latex[j] == "."):
                j += 1
            out.append(("mn", latex[i:j]))
            i = j
        elif ch in _OPERATOR_CHARS:
            out.append(("mo", ch))
            i += 1
        elif ch in "()[]|":
            out.append(("fence", ch))
            i += 1
        elif ch in "{}^_":
            out.append((ch, ch))
            i += 1
        elif ch == "&":
            # column separator (environment-only, like rowsep)
            out.append(("colsep", ""))
            i += 1
        else:
            raise UnsupportedLatex(f"char {ch!r}")
    return out


class _Parser:
    def __init__(self, tokens: List[Tuple[str, str]]) -> None:
        self.toks = tokens
        self.i = 0

    def _peek(self) -> Optional[Tuple[str, str]]:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _next(self) -> Tuple[str, str]:
        t = self._peek()
        if t is None:
            raise UnsupportedLatex("unexpected end")
        self.i += 1
        return t

    def parse_nodes(self, until_brace: bool = False) -> List[Element]:
        nodes: List[Element] = []
        while True:
            t = self._peek()
            if t is None:
                if until_brace:
                    raise UnsupportedLatex("unclosed group")
                return nodes
            if t[0] == "}":
                if not until_brace:
                    raise UnsupportedLatex("stray }")
                self.i += 1
                return nodes
            nodes.append(self.parse_scripted())

    def parse_scripted(self) -> Element:
        base, movable = self.parse_atom()
        sub: Optional[Element] = None
        sup: Optional[Element] = None
        while True:
            t = self._peek()
            if t is None or t[0] not in ("^", "_"):
                break
            self.i += 1
            arg, _ = self.parse_atom()
            if t[0] == "^":
                if sup is not None:
                    raise UnsupportedLatex("double superscript")
                sup = arg
            else:
                if sub is not None:
                    raise UnsupportedLatex("double subscript")
                sub = arg
        if sub is None and sup is None:
            return base
        if movable:
            tag = ("munderover" if sub is not None and sup is not None
                   else "munder" if sub is not None else "mover")
        else:
            tag = ("msubsup" if sub is not None and sup is not None
                   else "msub" if sub is not None else "msup")
        el = Element(tag)
        el.append(base)
        if sub is not None:
            el.append(sub)
        if sup is not None:
            el.append(sup)
        return el

    def parse_atom(self) -> Tuple[Element, bool]:
        """-> (element, movable_limits)."""
        kind, val = self._next()
        if kind == "mi":
            el = Element("mi")
            el.text = val
            return el, False
        if kind == "mn":
            el = Element("mn")
            el.text = val
            return el, False
        if kind == "mo":
            el = Element("mo")
            el.text = _ref(_OPERATOR_CHARS[val])
            return el, False
        if kind == "fence":
            el = Element("mo", {"stretchy": "false"})
            el.text = _ref(_FENCES[val])
            return el, False
        if kind == "mtext":
            el = Element("mtext")
            el.text = val.replace(" ", "&#x000A0;")
            return el, False
        if kind == "{":
            row = Element("mrow")
            for c in self.parse_nodes(until_brace=True):
                row.append(c)
            return row, False
        if kind == "cmd":
            if val == "frac":
                el = Element("mfrac")
                for _ in range(2):
                    el.append(self._braced_arg())
                return el, False
            if val == "sqrt":
                return self._sqrt(), False
            if val == "left":
                return self._left_right(), False
            if val == "right":
                raise UnsupportedLatex("\\right without \\left")
            if val in _GREEK:
                el = Element("mi")
                el.text = _ref(_GREEK[val])
                return el, False
            if val in _MO_COMMANDS:
                cp, movable = _MO_COMMANDS[val]
                el = Element("mo")
                el.text = _ref(cp)
                return el, movable
            if val in _ACCENTS:
                # \hat/\bar/\vec -> <mover> base + accent <mo>
                # (hand-pinned convention, see module docstring)
                base = self._braced_arg()
                el = Element("mover")
                el.append(base)
                mo = SubElement(el, "mo", {"stretchy": "false"})
                mo.text = _ref(_ACCENTS[val])
                return el, False
            if val == "mathbb":
                arg = self._braced_arg()
                kids = list(arg)
                if (len(kids) != 1 or kids[0].tag != "mi"
                        or not kids[0].text
                        or len(kids[0].text) != 1):
                    raise UnsupportedLatex("\\mathbb needs one letter")
                el = Element("mi")
                el.text = _ref(_mathbb_cp(kids[0].text))
                return el, False
            raise UnsupportedLatex(f"command \\{val}")
        if kind == "begin":
            return self._environment(val), False
        raise UnsupportedLatex(f"token {kind!r}")

    def _environment(self, env: str) -> Element:
        """\\begin{matrix|pmatrix|bmatrix|vmatrix|cases} ... \\end ->
        <mtable>/<mtr>/<mtd> (cells mrow-wrapped like every other
        argument position), with the fenced variants wrapped in the
        same stretchy prefix/postfix <mo> pair as \\left/\\right and
        cases additionally left-aligned. A trailing ``\\\\`` before
        \\end contributes no empty row (the LaTeX convention)."""
        if env not in _ENVIRONMENTS:
            raise UnsupportedLatex(f"environment {env!r}")
        rows: List[List[Element]] = [[Element("mrow")]]
        while True:
            t = self._peek()
            if t is None:
                raise UnsupportedLatex(f"unclosed \\begin{{{env}}}")
            if t[0] == "end":
                self.i += 1
                if t[1] != env:
                    raise UnsupportedLatex(
                        f"\\end{{{t[1]}}} closes \\begin{{{env}}}")
                break
            if t[0] == "colsep":
                self.i += 1
                rows[-1].append(Element("mrow"))
                continue
            if t[0] == "rowsep":
                self.i += 1
                rows.append([Element("mrow")])
                continue
            rows[-1][-1].append(self.parse_scripted())
        if len(rows) > 1 and len(rows[-1]) == 1 \
                and len(rows[-1][0]) == 0:
            rows.pop()
        table = Element("mtable")
        open_d, close_d = _ENVIRONMENTS[env]
        if env == "cases":
            table.set("columnalign", "left")
        for r in rows:
            mtr = SubElement(table, "mtr")
            for cell in r:
                mtd = SubElement(mtr, "mtd")
                mtd.append(cell)
        if open_d is None and close_d is None:
            return table
        row = Element("mrow")
        mo = SubElement(row, "mo", {"stretchy": "true", "fence": "true",
                                    "form": "prefix"})
        mo.text = _ref(_FENCES[open_d])
        row.append(table)
        if close_d is not None:
            mo = SubElement(row, "mo", {"stretchy": "true",
                                        "fence": "true",
                                        "form": "postfix"})
            mo.text = _ref(_FENCES[close_d])
        return row

    def _braced_arg(self) -> Element:
        t = self._next()
        if t[0] != "{":
            raise UnsupportedLatex("expected {")
        row = Element("mrow")
        for c in self.parse_nodes(until_brace=True):
            row.append(c)
        return row

    def _sqrt(self) -> Element:
        """\\sqrt{X} -> msqrt; \\sqrt[N]{X} -> mroot (base mrow first,
        then index mrow - the published converter's child order)."""
        t = self._peek()
        index: Optional[Element] = None
        if t == ("fence", "["):
            self.i += 1
            idx = Element("mrow")
            while True:
                t = self._peek()
                if t is None:
                    raise UnsupportedLatex("unclosed \\sqrt[")
                if t == ("fence", "]"):
                    self.i += 1
                    break
                idx.append(self.parse_scripted())
            index = idx
        base = self._braced_arg()
        if index is None:
            el = Element("msqrt")
            el.append(base)
            return el
        el = Element("mroot")
        el.append(base)
        el.append(index)
        return el

    def _fence_delim(self) -> str:
        t = self._next()
        if t[0] != "fence":
            raise UnsupportedLatex(f"\\left/\\right delim {t[1]!r}")
        return t[1]

    def _left_right(self) -> Element:
        """\\left DELIM body \\right DELIM -> mrow with stretchy
        prefix/postfix fence <mo>s."""
        open_d = self._fence_delim()
        row = Element("mrow")
        mo = SubElement(row, "mo", {"stretchy": "true", "fence": "true",
                                    "form": "prefix"})
        mo.text = _ref(_FENCES[open_d])
        while True:
            t = self._peek()
            if t is None:
                raise UnsupportedLatex("\\left without \\right")
            if t == ("cmd", "right"):
                self.i += 1
                break
            row.append(self.parse_scripted())
        # mismatched pairs (\left[ ... \right)) are legal LaTeX; keep
        # whatever delimiter was given
        close_d = self._fence_delim()
        mo = SubElement(row, "mo", {"stretchy": "true", "fence": "true",
                                    "form": "postfix"})
        mo.text = _ref(_FENCES[close_d])
        return row


def convert_to_element(latex: str, display: str = "inline") -> Element:
    """latex2mathml.converter.convert_to_element equivalent for the
    pinned subset; raises UnsupportedLatex outside it."""
    nodes = _Parser(_tokenize(latex)).parse_nodes()
    if not nodes:
        raise UnsupportedLatex("empty formula")
    math = Element("math", {
        "xmlns": "http://www.w3.org/1998/Math/MathML",
        "display": display})
    row = SubElement(math, "mrow")
    for nd in nodes:
        row.append(nd)
    return math


def convert_formula(latex: str, display: str) -> Optional[str]:
    """Full reference pipeline (html.py:280-291): convert, append the
    TeX <annotation>, tostring + unescape. None -> caller falls back
    to <pre> exactly like the reference's except-branch."""
    try:
        el = convert_to_element(latex, display=display)
    except UnsupportedLatex:
        return None
    ann = SubElement(el, "annotation", {"encoding": "TeX"})
    ann.text = latex
    return unescape(tostring(el, encoding="unicode"))
