"""DOM-heuristic boilerplate stripping (north_rule custom operator).

The reference service has *no* HTML boilerplate stripper (SURVEY.md
§2.10) — its closest behaviors are text cleaning (F1) and content
density (A5). This module supplies the north_rule-required operator from
scratch: one regex tokenizer loop that builds the element tree and folds
each element's ``(chars, link_chars, tags)`` into its parent when the
element closes, scoring every block as it closes. Deterministic,
pure-Python, and the single source of truth for both goldens and the
pandas UDF.

Heuristic (documented spec, our own golden fixtures pin it):

* structural-noise tags are dropped wholesale: nav, footer, header,
  aside, script, style, form, button, iframe, noscript;
* the tree is segmented into blocks at block-level tags (div, p,
  section, article, main, table, ul, ol, blockquote, pre, h1-h6, li);
  a block with block-level children contributes its own inline content
  (its text and non-block children) as a block of its own, placed
  before those children;
* per block: ``link_ratio = chars inside <a> / total chars`` and
  ``tag_density = descendant tag count / max(total chars, 1)``;
* a block is boilerplate when ``link_ratio > 0.5`` or
  ``tag_density > 0.10`` or it has no text at all;
* kept block texts are whitespace-normalized and joined with
  ``"\\n\\n"``.

Tree rules. Comments, CDATA, doctypes and processing instructions are
skipped; entities are decoded in text. An end tag closes the closest
open element of that name (browsers' recovery for mis-nested markup)
and is ignored when none is open; elements left open close at the end
of input. As in HTML5, ``/>`` does not close a non-void element:
``<nav/>`` opens a drop region that ends at the next end tag (its
parent's, which the region consumes), and ``<br/>`` is a void tag like
``<br>``. A block's text lists the block's own text parts before those
of its descendants.

Nothing here recurses, so nesting depth is bounded only by memory: each
element is popped once, and a kept block's text is gathered with an
explicit stack. A per-tag count of open elements answers "is one of
this name open?" in O(1), so an end tag that matches nothing costs no
stack scan however deep the nesting.
"""

from __future__ import annotations

import re
from html import unescape
from itertools import chain

DROP_TAGS = frozenset(
    {"nav", "footer", "header", "aside", "script", "style", "form",
     "button", "iframe", "noscript"}
)
BLOCK_TAGS = frozenset(
    {"div", "p", "section", "article", "main", "table", "ul", "ol",
     "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6", "li",
     "body", "html"}
)
VOID_TAGS = frozenset(
    {"br", "hr", "img", "input", "meta", "link", "area", "base", "col",
     "embed", "source", "track", "wbr"}
)

LINK_RATIO_MAX = 0.5
TAG_DENSITY_MAX = 0.10

# One token per markup construct: comment, CDATA, doctype/declaration,
# processing instruction, or a start/end tag with quoted attributes
# (a quoted ">" does not end the tag). Groups: the end-tag slash and
# the tag name; both are None for the skipped constructs.
_RE_TAG = re.compile(
    r"<(?:!--.*?-->|!\[CDATA\[.*?\]\]>|![^>]*>|\?[^>]*>"
    r"|(/?)([a-zA-Z][a-zA-Z0-9-]*+)(?:[^>\"']++|\"[^\"]*+\"|'[^']*+')*+>)",
    re.DOTALL,
)


class _Node:
    """An open element. ``chars``/``link``/``tags`` measure its own text
    plus the subtrees in ``kids``; ``slot`` is its index in the output
    when it is a block, -1 otherwise."""

    __slots__ = ("tag", "parts", "kids", "chars", "link", "tags", "slot")

    def __init__(self, tag: str, slot: int):
        self.tag = tag
        self.parts: list[str] = []
        self.kids: list[_Node] = []
        self.chars = 0
        self.link = 0
        self.tags = 0
        self.slot = slot


def _score(node: _Node, slots: list) -> None:
    """Fill a block's output slot with its text if it is content."""
    total = node.chars
    if (not total or node.link / total > LINK_RATIO_MAX
            or node.tags / total > TAG_DENSITY_MAX):
        return
    parts: list[str] = []
    todo = [node]
    while todo:
        n = todo.pop()
        parts += n.parts
        todo += reversed(n.kids)
    slots[node.slot] = " ".join(parts)


def _pop_to(stack: list[_Node], depth: int, slots: list,
            n_open: dict[str, int]) -> None:
    """Close the open elements above ``depth``: a block is scored, any
    other element folds its measures into its parent."""
    while len(stack) > depth:
        node = stack.pop()
        n_open[node.tag] -= 1
        if node.slot >= 0:
            _score(node, slots)
        else:
            parent = stack[-1]
            parent.chars += node.chars
            parent.link += node.chars if node.tag == "a" else node.link
            parent.tags += 1 + node.tags


def strip_boilerplate(html: str) -> str:
    """Main-content extraction for an 'html' span.

    Returns the text of content blocks that survive the link-ratio /
    tag-density heuristic, whitespace-normalized and joined with blank
    lines. Empty string when nothing survives (fully-boilerplate page).
    """
    if not html:
        return ""
    root = _Node("", 0)
    stack = [root]
    top = root
    slots: list = [None]
    n_open: dict[str, int] = {}  # open elements per tag name
    drop = 0
    # split gives the text before the first token, then (slash, name,
    # text after it) per token; a leading (None, None) makes it triples
    tokens = chain((None, None), _RE_TAG.split(html))
    for close, name, data in zip(tokens, tokens, tokens):
        if name is not None:
            tag = name.lower()
            if drop:
                if tag not in VOID_TAGS:
                    drop += -1 if close else 1
            elif tag in VOID_TAGS:
                pass
            elif close:
                if n_open.get(tag):
                    i = len(stack) - 1
                    while stack[i].tag != tag:
                        i -= 1
                    _pop_to(stack, i, slots, n_open)
                    top = stack[-1]
            elif tag in DROP_TAGS:
                drop = 1
            else:
                if tag in BLOCK_TAGS and top.slot >= 0:
                    node = _Node(tag, len(slots))
                    slots.append(None)
                else:
                    node = _Node(tag, -1)
                    top.kids.append(node)
                stack.append(node)
                n_open[tag] = n_open.get(tag, 0) + 1
                top = node
        if data and not drop:
            if "&" in data:
                data = unescape(data)
            text = " ".join(data.split())
            if text:
                top.parts.append(text)
                top.chars += len(text)
    _pop_to(stack, 1, slots, n_open)
    _score(root, slots)
    return "\n\n".join(s for s in slots if s)
