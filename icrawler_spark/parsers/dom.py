"""Minimal lenient HTML DOM on stdlib ``html.parser``.

This container ships neither lxml nor BeautifulSoup, so the vectorized parse
UDFs build their tree with this module. The API intentionally covers exactly
what the listing parsers need: tag/attr access, descendant search, text
aggregation, parent/sibling walks. Semantics of ``get_text(sep, strip=True)``
match the BeautifulSoup behavior the reference relies on (strip each string,
drop empties, join with sep).
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


class Node:
    __slots__ = ("parent",)

    def __init__(self) -> None:
        self.parent: Element | None = None


class TextNode(Node):
    __slots__ = ("data",)

    def __init__(self, data: str) -> None:
        super().__init__()
        self.data = data


class Element(Node):
    __slots__ = ("name", "attrs", "children")

    def __init__(self, name: str, attrs: dict[str, str] | None = None) -> None:
        super().__init__()
        self.name = name
        self.attrs: dict[str, str] = attrs or {}
        self.children: list[Node] = []

    # -- construction --------------------------------------------------------

    def append(self, node: Node) -> None:
        node.parent = self
        self.children.append(node)

    # -- attributes ----------------------------------------------------------

    def get(self, key: str, default: str | None = None) -> str | None:
        return self.attrs.get(key, default)

    @property
    def classes(self) -> list[str]:
        return (self.attrs.get("class") or "").split()

    # -- traversal -----------------------------------------------------------

    def iter_descendants(self) -> Iterator[Node]:
        for child in self.children:
            yield child
            if isinstance(child, Element):
                yield from child.iter_descendants()

    def find_all(
        self,
        names: str | tuple[str, ...] | list[str] | None = None,
        *,
        recursive: bool = True,
        href: bool = False,
        class_: str | None = None,
    ) -> list["Element"]:
        if isinstance(names, str):
            names = (names,)
        pool: Iterator[Node]
        pool = self.iter_descendants() if recursive else iter(self.children)
        out: list[Element] = []
        for node in pool:
            if not isinstance(node, Element):
                continue
            if names is not None and node.name not in names:
                continue
            if href and not (node.attrs.get("href") or "").strip():
                continue
            if class_ is not None and class_ not in node.classes:
                continue
            out.append(node)
        return out

    def find(self, names=None, *, recursive: bool = True, href: bool = False,
             class_: str | None = None) -> "Element | None":
        found = self.find_all(names, recursive=recursive, href=href, class_=class_)
        return found[0] if found else None

    def find_parent(self, names: str | tuple[str, ...] | list[str]) -> "Element | None":
        if isinstance(names, str):
            names = (names,)
        cur = self.parent
        while cur is not None:
            if cur.name in names:
                return cur
            cur = cur.parent
        return None

    def previous_siblings(self) -> Iterator[Node]:
        if self.parent is None:
            return
        idx = self.parent.children.index(self)
        for node in reversed(self.parent.children[:idx]):
            yield node

    # -- text ----------------------------------------------------------------

    def get_text(self, sep: str = "", strip: bool = False) -> str:
        pieces: list[str] = []
        for node in self.iter_descendants():
            if isinstance(node, TextNode):
                t = node.data
                if strip:
                    t = t.strip()
                    if not t:
                        continue
                pieces.append(t)
        return sep.join(pieces)


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("[document]")
        self.stack: list[Element] = [self.root]

    def handle_starttag(self, tag: str, attrs) -> None:
        attr_map: dict[str, str] = {}
        for k, v in attrs:
            if k not in attr_map:
                attr_map[k] = v if v is not None else ""
        el = Element(tag, attr_map)
        self.stack[-1].append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attrs) -> None:
        attr_map = {k: (v if v is not None else "") for k, v in attrs}
        self.stack[-1].append(Element(tag, attr_map))

    def handle_endtag(self, tag: str) -> None:
        # lenient close: pop to nearest matching open tag, ignore strays
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].name == tag:
                del self.stack[i:]
                return

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].append(TextNode(data))


def parse_html(html: str) -> Element:
    builder = _TreeBuilder()
    builder.feed(html or "")
    builder.close()
    return builder.root
