"""Minimal lenient HTML DOM + positional cell lookup (SURVEY §2.3 T1).

The reference parses pages with Racket's lenient ``html->xexp`` and walks
them with positional sxpath expressions like::

    (// (div (@ (equal? (id "annual_income_statement"))))
        (table 2) tbody (tr 3) (td 4))

This module provides the same navigation over a tiny DOM built with the
stdlib ``html.parser`` (no third-party HTML libraries in the container):
element-by-id lookup, *n*-th-child-of-tag indexing (1-based, per sxpath),
and text extraction. It runs inside Arrow-batched ``mapInPandas`` workers
(parse.estimates / parse.statements) — pure Python, no Spark imports.
"""

from __future__ import annotations

from html.parser import HTMLParser

VOID_TAGS = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
})


class Node:
    """One element: tag, attrs dict, mixed children (Node | str)."""

    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list = []

    # -- navigation ---------------------------------------------------------

    def child_elems(self, tag: str | None = None) -> list["Node"]:
        """Direct element children, optionally filtered by tag (the sxpath
        child axis)."""
        return [c for c in self.children
                if isinstance(c, Node) and (tag is None or c.tag == tag)]

    def nth(self, tag: str, n: int) -> "Node":
        """1-based n-th direct child with ``tag`` — sxpath ``(tag n)``.
        Raises IndexError when absent (callers treat that as a failed
        document, matching the reference's exception path)."""
        kids = self.child_elems(tag)
        if n < 1 or n > len(kids):
            raise IndexError(f"no <{tag}>[{n}] under <{self.tag}>")
        return kids[n - 1]

    def descendants(self, tag: str | None = None):
        """Depth-first descendants (sxpath ``//``)."""
        for c in self.children:
            if isinstance(c, Node):
                if tag is None or c.tag == tag:
                    yield c
                yield from c.descendants(tag)

    def find_by_id(self, elem_id: str, tag: str | None = None) -> "Node | None":
        for d in self.descendants(tag):
            if d.attrs.get("id") == elem_id:
                return d
        return None

    # -- text ---------------------------------------------------------------

    def text_children(self) -> list[str]:
        """Direct text-node children, in order (sxpath ``*text*`` kids)."""
        return [c for c in self.children if isinstance(c, str)]

    def text(self) -> str:
        """All descendant text concatenated."""
        parts: list[str] = []
        for c in self.children:
            parts.append(c if isinstance(c, str) else c.text())
        return "".join(parts)


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("#root")
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = Node(tag, dict(attrs))
        self.stack[-1].children.append(node)
        if tag not in VOID_TAGS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].children.append(Node(tag, dict(attrs)))

    def handle_endtag(self, tag):
        # lenient recovery: pop to the nearest matching open tag, if any
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(data)


def parse_html(text: str) -> Node:
    builder = _TreeBuilder()
    builder.feed(text)
    builder.close()
    return builder.root
