"""Minimal HCL parser for the reference's config surface.

The reference's entire config UX is HCL blocks in ``*.tpc`` files
(reference: internal/parse/load_config.go; block shapes in
internal/config/partition.go:31-78, table.go, format.go — exercised by
tests/acceptance/test_files/table_block.bats:25-48):

    format "delimited" "transform_test" { delimiter = "," }
    table "t" {
      format = format.delimited.transform_test
      column "c" { type = "varchar"  transform = "upper(x)" }
    }
    partition "t" "p" {
      filter = "status = 'ok'"
      source "file" { paths = ["/logs/"]  file_layout = "%{DATA}.csv" }
    }

This is a from-scratch recursive-descent parser of the public HCL
syntax subset those configs use: blocks with string labels, attributes
(string / number / bool / null / list / dotted reference), nested
blocks, and ``#``, ``//``, ``/* */`` comments. References (bare dotted
identifiers like ``format.delimited.csv``) parse to :class:`HclRef`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


class HclParseError(ValueError):
    def __init__(self, msg: str, line: int):
        super().__init__(f"HCL parse error at line {line}: {msg}")
        self.line = line


@dataclass(frozen=True)
class HclRef:
    """A dotted identifier reference, e.g. format.delimited.csv."""

    path: tuple[str, ...]

    def __str__(self) -> str:
        return ".".join(self.path)


@dataclass
class HclBlock:
    type: str
    labels: list[str]
    attrs: dict[str, object] = field(default_factory=dict)
    blocks: list["HclBlock"] = field(default_factory=list)

    def find(self, btype: str) -> list["HclBlock"]:
        return [b for b in self.blocks if b.type == btype]


_TOKEN_RE = re.compile(
    r"""
      (?P<ws>[ \t\r]+)
    | (?P<comment>\#[^\n]*|//[^\n]*|/\*.*?\*/)
    | (?P<newline>\n)
    | (?P<string>"(?:\\.|[^"\\])*")
    | (?P<number>-?\d+(?:\.\d+)?)
    | (?P<ident>[A-Za-z_][A-Za-z0-9_-]*(?:\.[A-Za-z_][A-Za-z0-9_-]*)*)
    | (?P<punct>[{}\[\]=,])
    """,
    re.VERBOSE | re.DOTALL,
)

_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\"}


def _unquote(raw: str, line: int) -> str:
    body = raw[1:-1]
    out, i = [], 0
    while i < len(body):
        ch = body[i]
        if ch == "\\":
            if i + 1 >= len(body):
                raise HclParseError("dangling escape in string", line)
            nxt = body[i + 1]
            out.append(_ESCAPES.get(nxt, "\\" + nxt))
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _tokenize(text: str) -> list[tuple[str, str, int]]:
    toks, pos, line = [], 0, 1
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            raise HclParseError(f"unexpected character {text[pos]!r}", line)
        kind = m.lastgroup
        val = m.group()
        if kind in ("newline", "comment"):
            line += val.count("\n")
        elif kind != "ws":
            toks.append((kind, val, line))
        pos = m.end()
    toks.append(("eof", "", line))
    return toks


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0

    def peek(self):
        return self.toks[self.i]

    def next(self):
        tok = self.toks[self.i]
        self.i += 1
        return tok

    # --- grammar ---
    def parse_body(self, root: HclBlock, closing: str | None):
        while True:
            kind, val, line = self.peek()
            if kind == "eof":
                if closing:
                    raise HclParseError("unexpected end of input (missing '}')", line)
                return
            if kind == "punct" and val == "}":
                if closing is None:
                    raise HclParseError("unexpected '}'", line)
                self.next()
                return
            if kind != "ident":
                raise HclParseError(f"expected identifier, got {val!r}", line)
            self.next()
            name = val
            kind2, val2, line2 = self.peek()
            if kind2 == "punct" and val2 == "=":
                self.next()
                root.attrs[name] = self.parse_value()
            else:
                # block: ident [label...] '{'
                labels = []
                while True:
                    k, v, ln = self.peek()
                    if k == "string":
                        self.next()
                        labels.append(_unquote(v, ln))
                    elif k == "punct" and v == "{":
                        self.next()
                        break
                    else:
                        raise HclParseError(
                            f"expected block label or '{{', got {v!r}", ln
                        )
                child = HclBlock(type=name, labels=labels)
                self.parse_body(child, closing="}")
                root.blocks.append(child)

    def parse_value(self):
        kind, val, line = self.next()
        if kind == "string":
            return _unquote(val, line)
        if kind == "number":
            return float(val) if "." in val else int(val)
        if kind == "ident":
            if val == "true":
                return True
            if val == "false":
                return False
            if val == "null":
                return None
            return HclRef(tuple(val.split(".")))
        if kind == "punct" and val == "[":
            items = []
            while True:
                k, v, ln = self.peek()
                if k == "punct" and v == "]":
                    self.next()
                    return items
                items.append(self.parse_value())
                k, v, ln = self.peek()
                if k == "punct" and v == ",":
                    self.next()
                elif k == "punct" and v == "]":
                    continue
                else:
                    raise HclParseError(f"expected ',' or ']', got {v!r}", ln)
        raise HclParseError(f"unexpected value token {val!r}", line)


def parse_hcl(text: str) -> HclBlock:
    """Parse HCL text into a root block (type='', attrs + blocks)."""
    root = HclBlock(type="", labels=[])
    _Parser(text).parse_body(root, closing=None)
    return root
