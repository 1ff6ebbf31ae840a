"""Arc90-readability-style main-content extraction (boilerplate strip).

North-rule requirement: "text spans are boilerplate-stripped with a
text-density/link-density DOM heuristic (Arc90-readability-style scoring)".
The reference has no HTML path (it OCRs images only), so this component is
new; its scoring follows the published Arc90 readability heuristic:

  * candidate containers are block elements (div/article/section/td/main)
  * each <p> contributes  1 + #commas + min(len(text)//100, 3)  points to
    its parent container
  * a container's score is damped by its link density:
        score *= (1 - link_text_len / text_len)
  * the best container's paragraph texts, in document order, are the main
    content (joined by "\\n")

Pure function of the HTML string -> safe inside an Arrow-batched Python
UDF and reusable verbatim by the plain-Python oracle (SURVEY.md §7 step 2).
Parser: stdlib html.parser (no external deps).
"""

from __future__ import annotations

from html.parser import HTMLParser

_BLOCK_TAGS = {"div", "article", "section", "td", "main", "body"}


class _Node:
    __slots__ = ("tag", "parent", "text_parts", "paragraphs", "link_len", "text_len", "order")

    def __init__(self, tag: str, parent: "_Node | None", order: int) -> None:
        self.tag = tag
        self.parent = parent
        self.text_parts: list[str] = []  # direct text of current <p>
        self.paragraphs: list[str] = []  # finished <p> texts, document order
        self.link_len = 0
        self.text_len = 0
        self.order = order


class _Arc90Parser(HTMLParser):
    """Single-pass parser collecting per-container paragraph + link stats."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._order = 0
        self.root = _Node("body", None, self._order)
        self._container = self.root
        self.containers: list[_Node] = [self.root]
        self._p_depth = 0
        self._a_depth = 0
        self._p_text: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _BLOCK_TAGS:
            self._order += 1
            node = _Node(tag, self._container, self._order)
            self._container = node
            self.containers.append(node)
        elif tag == "p":
            self._p_depth += 1
            self._p_text = []
        elif tag == "a":
            self._a_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _BLOCK_TAGS:
            if self._container.parent is not None:
                self._container = self._container.parent
        elif tag == "p" and self._p_depth > 0:
            self._p_depth -= 1
            text = " ".join("".join(self._p_text).split())
            if text:
                self._container.paragraphs.append(text)
        elif tag == "a" and self._a_depth > 0:
            self._a_depth -= 1

    def handle_data(self, data: str) -> None:
        n = len(data.strip())
        self._container.text_len += n
        if self._a_depth > 0:
            self._container.link_len += n
        if self._p_depth > 0:
            self._p_text.append(data)


def _container_score(node: _Node) -> float:
    score = 0.0
    for p in node.paragraphs:
        score += 1.0 + p.count(",") + min(len(p) // 100, 3)
    if node.text_len > 0:
        score *= 1.0 - (node.link_len / node.text_len)
    return score


def extract_main_text(html: str | None) -> str | None:
    """HTML -> main-content text (paragraphs joined by \\n); None -> None.

    Falls back to whitespace-normalized tag-stripped text when no paragraph
    scores (plain-text spans still pass through meaningfully).
    """
    if html is None:
        return None
    parser = _Arc90Parser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        return " ".join(html.split())
    best, best_score = None, 0.0
    for node in parser.containers:  # document order; strict > keeps the first on ties
        s = _container_score(node)
        if s > best_score:
            best, best_score = node, s
    if best is None or not best.paragraphs:
        return " ".join(_strip_tags(html).split())  # tag-strip fallback
    return "\n".join(best.paragraphs)


class _TagStripper(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []

    def handle_data(self, data: str) -> None:
        self.parts.append(data)


def _strip_tags(html: str) -> str:
    s = _TagStripper()
    s.feed(html)
    s.close()
    return " ".join(s.parts)
