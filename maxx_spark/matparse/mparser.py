"""From-scratch MATLAB structural parser.

Architecture: a two-pass line/statement scanner —

1. ``_scan``: per-line lexing (quote-aware comment stripping, ``%{ %}``
   block-comment tracking, ``...`` continuations), producing ``Line``
   records and comment *nodes* (a node = one block comment, or one maximal
   run of contiguous comment-only lines — mirroring how a CST groups them).
2. ``_block_tree``: statement-level block matching (function / classdef /
   properties / methods / enumeration / arguments / control keywords vs
   ``end``), tolerant of strings, transposes, and bracket nesting.

Extraction then walks the block tree, reproducing the reference semantics
(docstring attachment rules, attribute whitelists, argument-kind upgrades,
implicit-``obj`` removal, getter/setter linking; see
/root/reference/src/maxx/treesitter.py:408-893 for the behavioral spec).
"""

from __future__ import annotations

import re
import textwrap
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# data model (flattens into the CODE_UNITS schema)
# ---------------------------------------------------------------------------


@dataclass
class ExtractConfig:
    docstring_before_properties: bool = False
    docstring_before_arguments: bool = False
    docstring_before_enumerations: bool = False


@dataclass
class Doc:
    value: str
    lineno: int
    endlineno: int

    def __bool__(self) -> bool:
        return bool(self.value)


@dataclass
class Arg:
    name: str
    kind: str = "positional_only"  # positional_only|optional|keyword_only|varargin
    type: str | None = None
    dimensions: list[str] | None = None
    validators: str | None = None
    default: str | None = None
    docstring: Doc | None = None


@dataclass
class MUnit:
    kind: str  # function|class|script|property|enumeration|live_script
    name: str
    lineno: int | None = None
    endlineno: int | None = None
    docstring: Doc | None = None
    bases: list[str] = field(default_factory=list)
    attributes: dict[str, object] = field(default_factory=dict)
    arguments: list[Arg] = field(default_factory=list)
    returns: list[Arg] = field(default_factory=list)
    sections: list[tuple[str, str]] = field(default_factory=list)
    members: dict[str, "MUnit"] = field(default_factory=dict)
    is_getter: bool = False
    is_setter: bool = False
    value: str | None = None  # enumeration member value


# ---------------------------------------------------------------------------
# pass 1: line scanner
# ---------------------------------------------------------------------------


@dataclass(slots=True)
class Line:
    i: int  # 1-based
    raw: str
    code: str  # comment-stripped, strings intact
    neut: str  # like code but string contents blanked (for block matching)
    comment_only: bool
    blank: bool
    continues: bool  # code ends with line continuation '...'


_BLOCK_OPEN_RE = re.compile(r"^\s*%\{\s*$")
_BLOCK_CLOSE_RE = re.compile(r"^\s*%\}\s*$")


def _split_code_comment(raw: str) -> tuple[str, str, bool]:
    """Return (code_part, neutralized, continues). Quote-aware: ``%`` inside
    a string is not a comment; ``'`` after an operand is transpose, not a
    string. Fast path: lines without %, quotes, or ``...`` (the vast
    majority) skip the char scan entirely."""
    if "%" not in raw and "'" not in raw and '"' not in raw and "..." not in raw:
        return raw, raw, False
    code_chars: list[str] = []
    neut: list[str] = []
    i, n = 0, len(raw)
    in_s = None  # "'" or '"'
    prev = ""
    continues = False
    while i < n:
        c = raw[i]
        if in_s:
            if c == in_s:
                if i + 1 < n and raw[i + 1] == in_s:  # escaped quote
                    code_chars.append(c * 2)
                    neut.append("  ")
                    i += 2
                    prev = c
                    continue
                in_s = None
                code_chars.append(c)
                neut.append(c)
            else:
                code_chars.append(c)
                neut.append(" ")
            i += 1
            continue
        if c == "%":
            break
        if c == "." and raw[i : i + 3] == "...":
            continues = True
            break
        if c == '"':
            in_s = '"'
            code_chars.append(c)
            neut.append(c)
        elif c == "'":
            # transpose if previous non-space char is an operand terminator
            if prev and (prev.isalnum() or prev in ")]}_.'"):
                code_chars.append(c)
                neut.append(c)
            else:
                in_s = "'"
                code_chars.append(c)
                neut.append(c)
        else:
            code_chars.append(c)
            neut.append(c)
        if not c.isspace():
            prev = c
        i += 1
    return "".join(code_chars), "".join(neut), continues


def _scan(text: str) -> tuple[list[Line], list[tuple[int, int, list[str], bool]]]:
    """Scan text into Line records and comment nodes.

    Comment node = (start_line, end_line, raw_lines, is_block).
    """
    lines: list[Line] = []
    nodes: list[tuple[int, int, list[str], bool]] = []
    raw_lines = text.split("\n")
    in_block = False
    block_start = 0
    block_lines: list[str] = []
    run_start = 0
    run_lines: list[str] = []

    def flush_run(end_i: int) -> None:
        nonlocal run_lines, run_start
        if run_lines:
            nodes.append((run_start, end_i, run_lines, False))
            run_lines = []

    for i, raw in enumerate(raw_lines, 1):
        if in_block:
            block_lines.append(raw)
            lines.append(Line(i, raw, "", "", True, False, False))
            if _BLOCK_CLOSE_RE.match(raw):
                in_block = False
                nodes.append((block_start, i, block_lines, True))
                block_lines = []
            continue
        stripped = raw.lstrip()
        if _BLOCK_OPEN_RE.match(raw):
            flush_run(i - 1)
            in_block = True
            block_start = i
            block_lines = [raw]
            lines.append(Line(i, raw, "", "", True, False, False))
            continue
        if stripped.startswith("%"):
            if not run_lines:
                run_start = i
            run_lines.append(stripped)
            lines.append(Line(i, raw, "", "", True, False, False))
            continue
        flush_run(i - 1)
        code, neut, cont = _split_code_comment(raw)
        is_blank = not code.strip()
        lines.append(Line(i, raw, code, neut, False, is_blank, cont))
    flush_run(len(raw_lines))
    if in_block and block_lines:  # unterminated block comment
        nodes.append((block_start, len(raw_lines), block_lines, True))
    return lines, nodes


# ---------------------------------------------------------------------------
# docstring normalization — byte-compatible with the reference algorithm
# (treesitter.py:788-893): pragma filter, --8<-- filter, %% headers,
# %{ %} blocks, blank-gap cut between nodes, textwrap dedent.
# ---------------------------------------------------------------------------

_PRAGMAS = frozenset(
    ["%#codegen", "%#eml", "%#external", "%#exclude", "%#function", "%#ok", "%#mex"]
)


def _dedent_lines(lst: list[str]) -> list[str]:
    # single-line fast path, byte-identical to dedent: the margin of one
    # line is its entire leading [ \t] run, and dedent normalizes a
    # [ \t]-only line to '' — both are exactly lstrip(" \t"). Skips the
    # join/dedent/split round-trip for the hot call shape (per-item
    # docstrings are overwhelmingly one comment line).
    if len(lst) == 1:
        return [lst[0].lstrip(" \t")]
    return textwrap.dedent("\n".join(lst)).split("\n")


def comment_docstring(nodes: list[tuple[int, int, list[str], bool]]) -> Doc | None:
    """Normalize comment nodes into a Doc. ``nodes`` must be position-sorted."""
    if not nodes:
        return None
    # keep only the first group of nodes not separated by a blank-line gap
    kept = [nodes[0]]
    for prev, cur in zip(nodes, nodes[1:]):
        if cur[0] - prev[1] > 1:
            break
        kept.append(cur)
    lineno = kept[0][0]
    endlineno = kept[-1][1]
    lines = iter([ln for node in kept for ln in node[2]])

    docstring: list[str] = []
    uncommented: list[str] = []
    while True:
        try:
            line = next(lines).lstrip()
        except StopIteration:
            break
        if line in _PRAGMAS:
            continue
        if "--8<--" in line:
            continue
        if line[:2] == "%{" or line[:2] == "%%":
            if uncommented:
                docstring += _dedent_lines(uncommented)
                uncommented = []
            if line[:2] == "%%":
                docstring.append(line[2:].lstrip())
                continue
            comment_block: list[str] = []
            line = line[2:]
            while "%}" not in line:
                comment_block.append(line)
                try:
                    line = next(lines)
                except StopIteration:
                    break
            else:
                last_line = line[: line.index("%}")]
                if last_line:
                    comment_block.append(last_line)
            if comment_block:
                docstring.append(comment_block[0])
                docstring += _dedent_lines(comment_block[1:])
        elif line[:1] == "%":
            uncommented.append(line[1:])
        else:
            # a non-comment line inside a node cannot occur in our scanner
            continue
    if uncommented:
        docstring += _dedent_lines(uncommented)
    value = "\n".join(docstring)
    return Doc(value, lineno, endlineno) if value else None


# ---------------------------------------------------------------------------
# pass 2: block tree
# ---------------------------------------------------------------------------

_OPENERS = frozenset(
    [
        "if", "for", "while", "switch", "try", "parfor", "spmd",
        "function", "classdef", "arguments", "properties", "methods",
        "enumeration", "events",
    ]
)
_STRUCTURAL = frozenset(
    ["function", "classdef", "arguments", "properties", "methods", "enumeration", "events"]
)

_WORD_RE = re.compile(r"[A-Za-z_]\w*")
# statement-tokenizer stream for _block_tree: a word, ONE bracket/separator
# char (depth and ';,' logic is per char), or a RUN of any other non-space
# chars (which can only set stmt_start=False) — whitespace is skipped
_TOK_RE = re.compile(r"[A-Za-z_]\w*|[()\[\]{};,]|[^\sA-Za-z_()\[\]{};,]+")
_KW_RE = re.compile(
    r"\b(?:if|for|while|switch|try|parfor|spmd|function|classdef|arguments"
    r"|properties|methods|enumeration|events|end)\b"
)


@dataclass(slots=True)
class Block:
    kw: str
    start: int  # line of the opening keyword
    end: int  # line of the matching 'end' (or last line)
    header: str  # joined (continuation-resolved) header statement text
    children: list["Block"] = field(default_factory=list)


def _block_tree(lines: list[Line]) -> list[Block]:
    """Match block keywords to their ``end``s with a statement-position
    tokenizer over neutralized code."""
    root: list[Block] = []
    stack: list[Block] = []
    depth = 0  # () [] {} nesting — 'end' inside is an index, not a closer
    stmt_start = True
    last_line = len(lines)

    def close(block: Block, end_line: int) -> None:
        block.end = end_line
        if stack:
            stack[-1].children.append(block)
        else:
            root.append(block)

    i = 0
    while i < len(lines):
        ln = lines[i]
        if ln.comment_only or ln.blank:
            if not ln.continues:
                stmt_start = True
            i += 1
            continue
        # join continuations for header capture
        code = ln.neut
        j = i
        # fast path: no block keyword anywhere in the line → only the net
        # bracket depth and the end-of-line statement boundary matter
        if not _KW_RE.search(code):
            depth = max(
                0,
                depth
                + code.count("(") + code.count("[") + code.count("{")
                - code.count(")") - code.count("]") - code.count("}"),
            )
            stmt_start = not ln.continues
            i += 1
            continue
        # single compiled-regex token stream instead of a per-char loop:
        # word | open-bracket | close-bracket | ;, | any other non-space
        # RUN. A run of "other" chars (no words/brackets/separators by the
        # character class) only ever sets stmt_start=False, so collapsing
        # it to one token is exact; whitespace changes nothing in either
        # form and is skipped entirely.
        for m in _TOK_RE.finditer(code):
            tok = m.group(0)
            c0 = tok[0]
            if c0 in "([{":
                depth += 1
                stmt_start = False
            elif c0 in ")]}":
                depth = max(0, depth - 1)
                stmt_start = False
            elif c0 in ";,":
                if depth == 0:
                    stmt_start = True
            elif c0.isalpha() or c0 == "_":
                if depth == 0 and stmt_start:
                    if tok in _OPENERS:
                        # capture full header (resolve continuations)
                        header = lines[j].code
                        jj = j
                        while lines[jj].continues and jj + 1 <= len(lines) - 1:
                            jj += 1
                            header = header.rstrip() + " " + lines[jj].code.lstrip()
                        stack.append(Block(tok, ln.i, ln.i, header))
                    elif tok == "end":
                        if stack:
                            close(stack.pop(), ln.i)
                stmt_start = False
            else:
                stmt_start = False
        if not ln.continues:
            stmt_start = True
        i += 1
    while stack:
        close(stack.pop(), last_line)
    return root


# ---------------------------------------------------------------------------
# header / item grammars
# ---------------------------------------------------------------------------

_FUNC_SIG_RE = re.compile(
    r"^\s*function\s*"
    r"(?:(\[[^\]]*\]|[A-Za-z_]\w*)\s*=\s*)?"  # outputs
    r"((?:get|set)\.)?"  # getter/setter prefix
    r"([A-Za-z_]\w*)"  # name
    r"\s*(?:\(([^)]*)\))?"  # inputs
)

_CLASSDEF_RE = re.compile(
    r"^\s*classdef\s*"
    r"(?:\(([^)]*)\))?\s*"  # attributes
    r"([A-Za-z_]\w*)"  # name
    r"\s*(?:<\s*(.*?))?\s*$"  # bases
)

_BLOCK_HEADER_RE = re.compile(r"^\s*(\w+)\s*(?:\(([^)]*)\))?\s*$")


_IDENT_FULL_RE = re.compile(r"[A-Za-z_]\w*")


def _idents(csv: str | None) -> list[str]:
    if not csv:
        return []
    return [p.strip() for p in csv.split(",") if _IDENT_FULL_RE.fullmatch(p.strip())]


def _parse_attrs(attr_csv: str | None) -> list[tuple[str, object]]:
    """``Abstract, Access = private, Foo = true`` → [(key, value)] with
    boolean coercion (reference treesitter.py:598-623)."""
    if not attr_csv:
        return []
    out: list[tuple[str, object]] = []
    # split on commas not inside ?meta.class or quotes (simple: top-level)
    parts = [p.strip() for p in attr_csv.split(",") if p.strip()]
    for p in parts:
        if "=" in p:
            k, v = p.split("=", 1)
            k, v = k.strip(), v.strip()
            if v.lower() in ("true", "false"):
                out.append((k, v.lower() == "true"))
            else:
                out.append((k, v))
        else:
            out.append((p, True))
    return out


_ACCESS_KINDS = frozenset(["public", "protected", "private", "immutable"])


def _access(value: object) -> str:
    return value if isinstance(value, str) and value in _ACCESS_KINDS else "private"


_PROP_NAME_RE = re.compile(r"^\s*([A-Za-z_]\w*)(?:\s*\.\s*([A-Za-z_]\w*))?")
_DIGITS_RE = re.compile(r"\d+")
_TYPE_RE = re.compile(r"[A-Za-z_][\w.]*")


def _parse_property_item(code: str) -> dict | None:
    """Parse one property/argument item line:
    ``[options.]name [(dims)] [type] [{validators}] [= default]``.
    Returns dict or None if the line is not an item."""
    m = _PROP_NAME_RE.match(code)
    if not m:
        return None
    name, dotted = m.group(1), m.group(2)
    options = None
    if dotted:
        options, name = m.group(1), dotted
    rest = code[m.end():]
    out: dict = {"name": name, "options": options, "dimensions": None, "type": None,
                 "validators": None, "default": None}
    i, n = 0, len(rest)

    def skip_ws(k: int) -> int:
        while k < n and rest[k].isspace():
            k += 1
        return k

    i = skip_ws(i)
    if i < n and rest[i] == "(":
        d, j = 1, i + 1
        while j < n and d:
            if rest[j] == "(":
                d += 1
            elif rest[j] == ")":
                d -= 1
            j += 1
        dims_src = rest[i + 1 : j - 1]
        dims = []
        for tok in dims_src.split(","):
            tok = tok.strip()
            if _DIGITS_RE.fullmatch(tok) or tok == ":":
                dims.append(tok)
        out["dimensions"] = dims or None
        i = skip_ws(j)
    m2 = _TYPE_RE.match(rest, i)  # pos-anchored: no rest[i:] copy per item
    if m2:
        out["type"] = m2.group(0)
        i = skip_ws(m2.end())
    if i < n and rest[i] == "{":
        d, j = 1, i + 1
        while j < n and d:
            if rest[j] == "{":
                d += 1
            elif rest[j] == "}":
                d -= 1
            j += 1
        out["validators"] = rest[i:j]
        i = skip_ws(j)
    if i < n and rest[i] == "=":
        default = rest[i + 1 :].strip()
        if default.endswith(";"):
            default = default[:-1].rstrip()
        out["default"] = default
    return out


# ---------------------------------------------------------------------------
# comment-node helpers scoped to line ranges
# ---------------------------------------------------------------------------


def _nodes_in(nodes, lo: int, hi: int):
    """Comment nodes fully inside [lo, hi] (line numbers, inclusive)."""
    return [nd for nd in nodes if nd[0] >= lo and nd[1] <= hi]


def _trailing_comment_node(ln: Line) -> tuple[int, int, list[str], bool] | None:
    """Same-line trailing comment on a code line → a synthetic node."""
    raw = ln.raw
    code = ln.code
    rest = raw[len(code):]
    idx = rest.find("%")
    if idx < 0:
        return None
    if _BLOCK_OPEN_RE.match(rest.lstrip()):
        return None
    return (ln.i, ln.i, [rest[idx:]], False)


# ---------------------------------------------------------------------------
# extraction driver
# ---------------------------------------------------------------------------


class MatlabFileParser:
    """Single-file extractor. ``parse()`` → MUnit (function|class|script)."""

    def __init__(self, text: str, stem: str, config: ExtractConfig | None = None):
        self.text = text
        self.stem = stem
        self.config = config or ExtractConfig()
        self.lines, self.cnodes = _scan(text)
        self.tree = _block_tree(self.lines)

    # -- public ------------------------------------------------------------

    def parse(self) -> MUnit:
        header_nodes = self._header_nodes()
        top = next((b for b in self.tree if b.kw in ("function", "classdef")), None)
        # header comments must precede the definition
        if top is not None:
            header_nodes = [nd for nd in header_nodes if nd[1] < top.start]
        if top is None:
            unit = MUnit("script", self.stem, lineno=1, endlineno=len(self.lines) or 1)
        elif top.kw == "function":
            unit = self._parse_function(top, method=False)
        else:
            unit = self._parse_class(top)
        if unit.docstring is None:
            unit.docstring = comment_docstring(header_nodes)
        return unit

    # -- pieces ------------------------------------------------------------

    def _header_nodes(self):
        """Leading comment nodes of the file (before any code)."""
        first_code = None
        for ln in self.lines:
            if not ln.comment_only and not ln.blank:
                first_code = ln.i
                break
        hi = (first_code - 1) if first_code else len(self.lines)
        return _nodes_in(self.cnodes, 1, hi)

    def _docstring_after(self, sig_end: int, body_end: int):
        """Comment nodes between the signature and the first code statement
        of the body — candidates for the docstring (gap rule applied by
        comment_docstring)."""
        first_code = None
        for ln in self.lines[sig_end : body_end]:
            # lines list is 0-based; index sig_end == line sig_end+1
            if not ln.comment_only and not ln.blank:
                first_code = ln.i
                break
        hi = (first_code - 1) if first_code else body_end
        return _nodes_in(self.cnodes, sig_end + 1, hi)

    def _parse_function(self, block: Block, method: bool, **attrs) -> MUnit:
        m = _FUNC_SIG_RE.match(block.header)
        if not m:
            raise SyntaxError(f"unparsable function header at line {block.start}: {block.header!r}")
        outputs_src, accessor, ident, inputs_src = m.group(1), m.group(2), m.group(3), m.group(4)
        output_names = (
            _idents(outputs_src[1:-1]) if outputs_src and outputs_src.startswith("[")
            else ([outputs_src] if outputs_src else [])
        )
        input_names = _idents(inputs_src)

        # signature may span continuations; body starts after the last header line
        sig_end = block.start
        k = block.start - 1
        while k < len(self.lines) - 1 and self.lines[k].continues:
            k += 1
            sig_end = self.lines[k].i
        name = ident if method else self.stem

        unit = MUnit(
            "function",
            name,
            lineno=block.start,
            endlineno=block.end,
            is_getter=accessor == "get.",
            is_setter=accessor == "set.",
            attributes=dict(attrs),
        )
        unit.docstring = comment_docstring(self._docstring_after(sig_end, block.end))

        arguments: dict[str, Arg] = {n: Arg(n) for n in input_names}
        returns: dict[str, Arg] = {n: Arg(n) for n in output_names}

        for ab in block.children:
            if ab.kw != "arguments":
                continue
            bh = _BLOCK_HEADER_RE.match(ab.header)
            attr_names = [k for k, _ in _parse_attrs(bh.group(2) if bh else None)]
            is_input = (not attr_names) or ("Input" in attr_names) or ("Output" not in attr_names)
            self._parse_property_items(
                ab, is_args=True, arguments=arguments, returns=returns, is_input=is_input
            )

        unit.arguments = list(arguments.values())
        unit.returns = list(returns.values())
        return unit

    def _items_of_block(self, block: Block):
        """Yield ('comment', node) / ('item', Line, item_dict) for the body
        of a properties/arguments/enumeration block, in position order."""
        lo, hi = block.start + 1, block.end - 1
        events: list[tuple[int, str, object]] = []
        for nd in _nodes_in(self.cnodes, lo, hi):
            events.append((nd[0], "comment", nd))
        child_spans = [(c.start, c.end) for c in block.children]
        for ln in self.lines[lo - 1 : hi]:
            if ln.comment_only or ln.blank:
                continue
            if any(s <= ln.i <= e for s, e in child_spans):
                continue
            code = ln.code
            jj = ln.i - 1
            while self.lines[jj].continues and jj + 1 < len(self.lines):
                jj += 1
                code = code.rstrip().rstrip(".") + " " + self.lines[jj].code.lstrip()
            item = _parse_property_item(code)
            if item is not None:
                events.append((ln.i, "item", (ln, item)))
                tc = _trailing_comment_node(ln)
                if tc is not None:
                    events.append((ln.i, "tcomment", tc))
        events.sort(key=lambda e: (e[0], 0 if e[1] == "item" else 1))
        return events

    def _parse_property_items(self, block: Block, is_args: bool, arguments=None,
                              returns=None, is_input=True, cls: MUnit | None = None,
                              prop_attrs: dict | None = None) -> None:
        """Shared walk for arguments blocks (is_args) and properties blocks."""
        cfg_before = (
            self.config.docstring_before_arguments if is_args
            else self.config.docstring_before_properties
        )
        current: Arg | MUnit | None = None
        pending_doc: Doc | None = None
        for _, etype, payload in self._items_of_block(block):
            if etype in ("comment", "tcomment"):
                doc = comment_docstring([payload])
                if not doc:
                    continue
                if not cfg_before and current is not None:
                    current.docstring = doc
                elif cfg_before:
                    pending_doc = doc
                continue
            ln, item = payload
            if is_args:
                name = item["name"]
                if item["options"]:
                    arguments.pop(item["options"], None)
                    arg = Arg(name, kind="keyword_only")
                    arguments[name] = arg
                else:
                    table = arguments if is_input else returns
                    arg = table.get(name) or Arg(name)
                    table[name] = arg
                    arg.kind = "optional" if item["default"] is not None else "positional_only"
                if pending_doc is not None:
                    arg.docstring = pending_doc
                    pending_doc = None
                if item["dimensions"]:
                    arg.dimensions = item["dimensions"]
                if item["type"]:
                    arg.type = item["type"]
                if item["validators"]:
                    arg.validators = item["validators"]
                if item["default"] is not None:
                    arg.default = item["default"]
                current = arg
            else:
                prop = MUnit(
                    "property",
                    item["name"],
                    lineno=ln.i,
                    endlineno=ln.i,
                    attributes=dict(prop_attrs or {}),
                )
                prop.arguments = []  # unused for properties
                if item["dimensions"]:
                    prop.attributes["dimensions"] = item["dimensions"]
                prop.value = item["default"]
                prop.attributes["type"] = item["type"]
                prop.attributes["validators"] = item["validators"]
                prop.attributes["default"] = item["default"]
                if pending_doc is not None:
                    prop.docstring = pending_doc
                    pending_doc = None
                cls.members[prop.name] = prop
                current = prop

    _CLASS_ATTR_KEYS = frozenset(["Sealed", "Abstract", "Hidden"])
    _PROP_ATTR_KEYS = frozenset(
        ["AbortSet", "Abstract", "Constant", "Dependant", "GetObservable", "Hidden",
         "NonCopyable", "SetObservable", "Transient", "WeakHandle"]
    )
    _PROP_ACCESS_KEYS = frozenset(["Access", "GetAccess", "SetAccess"])
    _METHOD_ATTR_KEYS = frozenset(["Abstract", "Hidden", "Sealed", "Static"])

    def _parse_class(self, block: Block) -> MUnit:
        m = _CLASSDEF_RE.match(block.header)
        if not m:
            raise SyntaxError(f"unparsable classdef header at line {block.start}: {block.header!r}")
        attr_csv, _ident, bases_src = m.group(1), m.group(2), m.group(3)
        bases = [b.strip() for b in bases_src.split("&") if b.strip()] if bases_src else []
        attrs: dict[str, object] = {}
        for k, v in _parse_attrs(attr_csv):
            if k in self._CLASS_ATTR_KEYS:
                attrs[k] = v

        unit = MUnit(
            "class",
            self.stem,
            lineno=block.start,
            endlineno=block.end,
            bases=bases,
            attributes=attrs,
        )
        unit.docstring = comment_docstring(self._docstring_after(block.start, block.end))

        for child in block.children:
            bh = _BLOCK_HEADER_RE.match(child.header)
            child_attrs = _parse_attrs(bh.group(2) if bh else None)
            if child.kw == "enumeration":
                self._parse_enumeration(child, unit)
            elif child.kw == "properties":
                pk: dict[str, object] = {}
                for k, v in child_attrs:
                    if k in self._PROP_ATTR_KEYS:
                        pk[k] = v
                    elif k in self._PROP_ACCESS_KEYS:
                        pk[k] = _access(v)
                self._parse_property_items(child, is_args=False, cls=unit, prop_attrs=pk)
            elif child.kw == "methods":
                mk: dict[str, object] = {}
                for k, v in child_attrs:
                    if k in self._METHOD_ATTR_KEYS:
                        mk[k] = v
                    elif k == "Access":
                        mk[k] = _access(v)
                for fb in child.children:
                    if fb.kw != "function":
                        continue
                    method = self._parse_function(fb, method=True, **mk)
                    if (
                        method.name != self.stem
                        and not method.attributes.get("Static")
                        and method.arguments
                    ):
                        method.arguments = method.arguments[1:]  # implicit obj
                    if method.is_getter and method.name in unit.members:
                        tgt = unit.members[method.name]
                        if tgt.kind == "property":
                            tgt.attributes["getter"] = f"get.{method.name}"
                            unit.members[f"get.{method.name}"] = method
                            method.name = f"get.{method.name}"
                            continue
                    elif method.is_setter and method.name in unit.members:
                        tgt = unit.members[method.name]
                        if tgt.kind == "property":
                            tgt.attributes["setter"] = f"set.{method.name}"
                            unit.members[f"set.{method.name}"] = method
                            method.name = f"set.{method.name}"
                            continue
                    unit.members[method.name] = method
        return unit

    def _parse_enumeration(self, block: Block, cls: MUnit) -> None:
        """Enum members: identifier, optional (value), docstring after (or
        before, per config) — reference treesitter.py:448-485."""
        cfg_before = self.config.docstring_before_enumerations
        lo, hi = block.start + 1, block.end - 1
        events: list[tuple[int, str, object]] = []
        for nd in _nodes_in(self.cnodes, lo, hi):
            events.append((nd[0], "comment", nd))
        enum_re = re.compile(r"^\s*([A-Za-z_]\w*)\s*(?:\(([^)]*)\))?\s*;?\s*$")
        for ln in self.lines[lo - 1 : hi]:
            if ln.comment_only or ln.blank:
                continue
            m = enum_re.match(ln.code)
            if m:
                events.append((ln.i, "item", (ln, m.group(1), m.group(2))))
                tc = _trailing_comment_node(ln)
                if tc is not None:
                    events.append((ln.i, "comment", tc))
        events.sort(key=lambda e: (e[0], 0 if e[1] == "item" else 1))

        def add(ident: str, value: str | None, doc_nodes: list, line: int) -> None:
            doc = comment_docstring(sorted(doc_nodes, key=lambda nd: nd[0])) if doc_nodes else None
            e = MUnit("enumeration", ident, lineno=line, endlineno=line, docstring=doc)
            e.value = value.strip() if value else None
            cls.members[ident] = e

        ident: str | None = None
        value: str | None = None
        iline = 0
        after: list = []
        before: list = []
        for _, etype, payload in events:
            if etype == "item":
                ln, nm, val = payload
                if ident:
                    add(ident, value, before if cfg_before else after, iline)
                before = list(after)
                after = []
                ident, value, iline = nm, val, ln.i
            else:
                after.append(payload)
        if ident:
            add(ident, value, before if cfg_before else after, iline)


def parse_mfile(text: str, stem: str, config: ExtractConfig | None = None) -> MUnit:
    return MatlabFileParser(text, stem, config).parse()


def source_slice(lines: list[str], lineno: int, endlineno: int) -> str:
    """The reference's byte-identity invariant (objects.py:470-495):
    lines[lineno-1:endlineno] of the file's ``text.split("\\n")``, joined
    and dedented. Takes the split lines so a page is split once, not once
    per unit."""
    return textwrap.dedent("\n".join(lines[lineno - 1 : endlineno]))
