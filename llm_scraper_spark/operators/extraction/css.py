"""CSS-lite selector engine over the stdlib DOM (reference P2:
bs4 soup.select semantics for the selector subset the 93 domain configs
and the reference test suite actually use).

Supported grammar:
    group      : selector ("," selector)*
    selector   : compound ((">" | " ") compound)*
    compound   : [tag | "*"] ("#id" | ".class" | "[attr]" | "[attr<op>val]")*
    <op>       : = ^= $= *= ~=
"""

from __future__ import annotations

import functools
import re

from .dom import Node

_TOKEN = re.compile(
    r"""
    (?P<combinator>\s*>\s*|\s+)
  | (?P<tag>[a-zA-Z][\w-]*|\*)
  | \#(?P<id>[\w-]+)
  | \.(?P<cls>[\w-]+)
  | \[(?P<attr>[\w-]+)(?:(?P<op>[~^$*|]?=)(?P<val>"[^"]*"|'[^']*'|[^\]]*))?\]
    """,
    re.VERBOSE,
)


class Compound:
    __slots__ = ("tag", "ids", "classes", "attrs")

    def __init__(self):
        self.tag: str | None = None
        self.ids: list[str] = []
        self.classes: list[str] = []
        self.attrs: list[tuple[str, str | None, str | None]] = []

    def matches(self, node: Node) -> bool:
        if node.tag is None:
            return False
        if self.tag and self.tag != "*" and node.tag != self.tag:
            return False
        if self.ids and node.get("id") not in self.ids:
            return False
        if self.classes:
            cls = node.classes
            if any(c not in cls for c in self.classes):
                return False
        for attr, op, val in self.attrs:
            actual = node.get(attr)
            if actual is None:
                return False
            if op is None:
                continue
            if op == "=" and actual != val:
                return False
            if op == "^=" and not actual.startswith(val):
                return False
            if op == "$=" and not actual.endswith(val):
                return False
            if op == "*=" and val not in actual:
                return False
            if op == "~=" and val not in actual.split():
                return False
        return True


@functools.lru_cache(maxsize=4096)
def parse_selector(sel: str) -> tuple[tuple[tuple[str, Compound], ...], ...]:
    """-> groups; each group = ((combinator, compound), ...) left-to-right,
    combinator in {'root', 'descendant', 'child'}. Cached by the selector
    string (a parse error raises on every call); callers must not mutate
    the result."""
    groups = []
    for part in sel.split(","):
        part = part.strip()
        if not part:
            continue
        chain: list[tuple[str, Compound]] = []
        pos = 0
        pending_comb = "root"
        cur: Compound | None = None
        while pos < len(part):
            m = _TOKEN.match(part, pos)
            if not m:
                raise ValueError(f"bad CSS selector: {sel!r} at {part[pos:]!r}")
            pos = m.end()
            if m.group("combinator") is not None:
                if cur is not None:
                    chain.append((pending_comb, cur))
                    cur = None
                pending_comb = "child" if ">" in m.group("combinator") else "descendant"
                continue
            if cur is None:
                cur = Compound()
            if m.group("tag"):
                cur.tag = m.group("tag")
            elif m.group("id"):
                cur.ids.append(m.group("id"))
            elif m.group("cls"):
                cur.classes.append(m.group("cls"))
            elif m.group("attr"):
                val = m.group("val")
                if val is not None and len(val) >= 2 and val[0] in "\"'" and val[-1] == val[0]:
                    val = val[1:-1]
                cur.attrs.append((m.group("attr"), m.group("op"), val))
        if cur is not None:
            chain.append((pending_comb, cur))
        if chain:
            groups.append(tuple(chain))
    if not groups:
        raise ValueError(f"empty CSS selector: {sel!r}")
    return tuple(groups)


def _matches_chain(node: Node, chain: tuple[tuple[str, Compound], ...],
                   scope: Node) -> bool:
    """Right-to-left match with ancestor walking, bounded by the scope."""
    comb, compound = chain[-1]
    if not compound.matches(node):
        return False
    idx = len(chain) - 2
    current = node
    while idx >= 0:
        comb_here = chain[idx + 1][0]  # combinator BETWEEN chain[idx] and its right
        comb_here = comb_here if comb_here != "root" else "descendant"
        target = chain[idx][1]
        anc = current.parent
        if comb_here == "child":
            if anc is None or anc is scope.parent or not target.matches(anc):
                return False
            current = anc
        else:  # descendant: find any matching ancestor within scope
            found = None
            while anc is not None and anc is not scope.parent:
                if target.matches(anc):
                    found = anc
                    break
                anc = anc.parent
            if found is None:
                return False
            current = found
        idx -= 1
    return True


class Matcher:
    """A list of selectors compiled for one tree walk. Each chain is filed
    under its rightmost compound's key -- its only id, else its first
    class, else its tag, else the wildcard list -- so an element is
    tested only against the chains whose key it carries. (A compound with
    several ids matches an element carrying ANY of them, so it is filed
    by class/tag/wildcard instead.)"""

    __slots__ = ("by_id", "by_class", "by_tag", "anywhere")

    def __init__(self, selectors: tuple[str, ...]):
        self.by_id: dict[str, list] = {}
        self.by_class: dict[str, list] = {}
        self.by_tag: dict[str, list] = {}
        self.anywhere: list = []
        for rank, sel in enumerate(selectors):
            for chain in parse_selector(sel):
                last = chain[-1][1]
                if len(last.ids) == 1:
                    bucket = self.by_id.setdefault(last.ids[0], [])
                elif last.classes:
                    bucket = self.by_class.setdefault(last.classes[0], [])
                elif last.tag and last.tag != "*":
                    bucket = self.by_tag.setdefault(last.tag, [])
                else:
                    bucket = self.anywhere
                bucket.append((rank, chain))

    def rank(self, node: Node, scope: Node, limit: int) -> int:
        """The lowest rank (position in ``selectors``) below ``limit`` of
        a selector matching the element ``node`` within ``scope``, else
        ``limit``."""
        attrs = node.attrs
        best = limit
        if self.by_id and "id" in attrs:
            best = _scan(self.by_id.get(attrs["id"]), node, scope, best)
        if self.by_class:
            cls = attrs.get("class")
            if cls:
                for c in cls.split():
                    best = _scan(self.by_class.get(c), node, scope, best)
        if self.by_tag:
            best = _scan(self.by_tag.get(node.tag), node, scope, best)
        if self.anywhere:
            best = _scan(self.anywhere, node, scope, best)
        return best


def _scan(bucket, node: Node, scope: Node, best: int) -> int:
    if bucket:
        for rank, chain in bucket:
            if rank < best and _matches_chain(node, chain, scope):
                best = rank
    return best


@functools.lru_cache(maxsize=1024)
def matcher(selectors: tuple[str, ...]) -> Matcher:
    """Cached Matcher for a tuple of selector strings (raises on the
    first one that does not parse)."""
    return Matcher(selectors)


def select(scope: Node, selector: str) -> list[Node]:
    """All matching element descendants of scope, document order."""
    m = matcher((selector,))
    return [n for n in scope.iter_elements() if m.rank(n, scope, 1) == 0]


def select_one(scope: Node, selector: str) -> Node | None:
    m = matcher((selector,))
    for node in scope.iter_elements():
        if m.rank(node, scope, 1) == 0:
            return node
    return None


def decompose(scope: Node, selectors: tuple[str, ...]) -> None:
    """Detach every element under ``scope`` that matches one of
    ``selectors`` in ONE tree walk, leaving the same nodes detached as
    running ``for n in select(scope, s): n.detach()`` for each selector
    in turn.

    Why one walk is enough: the grammar has only descendant and child
    combinators, so whether an element matches depends on the element
    and its ancestors alone, and detaching other subtrees never changes
    those. Inside a detached subtree the per-selector loop still
    detaches the nested matches of the selectors that ran while the
    subtree was reachable -- ranks up to the lowest rank matched on the
    path from the removed root -- so the walk keeps that bound (the
    orphaned subtree stays observable: a find-all field may hold a
    nested element its own cleanup removed). Detaches are grouped per
    parent, so each ``children`` list is rebuilt once."""
    m = matcher(selectors)
    doomed: dict[int, tuple[Node, set[int]]] = {}
    stack = [(c, len(selectors)) for c in reversed(scope.children)]
    while stack:
        node, limit = stack.pop()
        if node.tag is None:
            continue
        rank = m.rank(node, scope, limit)
        if rank < limit:
            parent = node.parent
            doomed.setdefault(id(parent), (parent, set()))[1].add(id(node))
            limit = rank + 1
        stack.extend((c, limit) for c in reversed(node.children))
    for parent, gone in doomed.values():
        keep = []
        for c in parent.children:
            if id(c) in gone:
                c.parent = None
            else:
                keep.append(c)
        parent.children = keep
