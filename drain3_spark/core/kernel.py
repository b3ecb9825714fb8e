"""Sequential template-mining kernel.

This is the per-group compute kernel that runs *inside* an Arrow
``mapInArrow`` task (see drain3_spark.operators.mining).  Spark owns all
distribution: rows are hash-partitioned by the mining group key, sorted,
and each group is folded sequentially here, which reproduces the reference
algorithm's semantics exactly per group (groups never interact in the
reference either — the first parse-tree level is the token count,
reference drain3/drain.py:288-290).

The implementation is written from scratch; reference citations
(file:line into /root/reference) anchor *behavior*, not code:

* tokenize                  -> drain3/drain.py:181-186
* positional similarity     -> drain3/drain.py:391-413
* template merge            -> drain3/drain.py:415-425
* prefix-tree insert rules  -> drain3/drain.py:324-388
* prefix-tree search rules  -> drain3/drain.py:282-322
* best-candidate selection  -> drain3/drain.py:116-150
* train step + change types -> drain3/drain.py:188-226
* LRU cluster bound         -> drain3/drain.py:37-51,104-105,219-221
* read-only match           -> drain3/drain.py:427-472
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Dict, List, Optional, Sequence, Tuple

WILDCARD_DEFAULT = "<*>"

# A tree node is a 2-slot list: [children: dict[str, node], leaf_ids: list[int]].
_CHILD, _IDS = 0, 1


def _new_node() -> list:
    return [{}, []]


def check_strategy(strategy: str) -> None:
    """Reject a match strategy other than never / fallback / always."""
    if strategy not in ("never", "fallback", "always"):
        raise ValueError(f"unknown match strategy {strategy!r}; expected "
                         f"'never', 'fallback' or 'always'")


def tokenize(content: str, extra_delimiters: Sequence[str] = ()) -> List[str]:
    """Whitespace tokenization after stripping and extra-delimiter
    replacement (reference drain3/drain.py:181-186; ``"".split() == []``)."""
    content = content.strip()
    for d in extra_delimiters:
        content = content.replace(d, " ")
    return content.split()


def _has_digit(token: str) -> bool:
    # reference drain3/drain.py:112-114
    return any(ch.isdigit() for ch in token)


class ClusterRec:
    """One learned template cluster (reference LogCluster, drain3/drain.py:14-26).

    ``routing`` holds the CREATION-TIME tokens: the reference inserts a
    cluster into the prefix tree once, at creation, with the tokens of
    the creating message (drain3/drain.py:211-213), and never re-inserts
    when the template later wildcard-merges.  Snapshots must preserve
    those tokens so a restored tree has exactly the reference's paths."""

    __slots__ = ("cid", "tokens", "size", "created_key", "updated_key", "routing")

    def __init__(self, cid: int, tokens: Sequence[str],
                 created_key: str = "", size: int = 1,
                 routing: Optional[Sequence[str]] = None) -> None:
        self.cid = cid
        self.tokens: Tuple[str, ...] = tuple(tokens)
        self.size = size
        self.created_key = created_key   # order key of the creating row (Spark renumbering)
        self.updated_key = created_key   # order key of the last touching row (LRU at commit)
        self.routing: Tuple[str, ...] = \
            tuple(routing) if routing is not None else self.tokens

    @property
    def template(self) -> str:
        return " ".join(self.tokens)


class TemplateBank:
    """Mutable mining state: cluster registry + fixed-depth prefix tree.

    ``max_clusters`` bounds the registry with LRU eviction; candidate
    scans read without touching recency, a real assignment touches
    (reference drain3/drain.py:37-51 and :219-221).
    """

    def __init__(self,
                 sim_th: float = 0.4,
                 depth: int = 4,
                 max_children: int = 100,
                 max_clusters: Optional[int] = None,
                 param_str: str = WILDCARD_DEFAULT,
                 parametrize_numeric_tokens: bool = True,
                 extra_delimiters: Sequence[str] = ()) -> None:
        if depth < 3:
            raise ValueError("depth must be at least 3")
        self.sim_th = sim_th
        self.max_node_depth = depth - 2  # reference drain3/drain.py:94
        self.max_children = max_children
        self.max_clusters = max_clusters
        self.param_str = param_str
        self.parametrize_numeric_tokens = parametrize_numeric_tokens
        self.extra_delimiters = tuple(extra_delimiters)
        # recency-ordered registry: oldest first, newest last
        self.registry: "OrderedDict[int, ClusterRec]" = OrderedDict()
        self.counter = 0
        self.root: list = _new_node()

    # ------------------------------------------------------------------ scoring

    def score(self, template: Sequence[str], tokens: Sequence[str],
              include_params: bool) -> Tuple[float, int]:
        """Positional similarity of equal-length sequences
        (reference drain3/drain.py:391-413; empty -> (1.0, 0))."""
        n = len(template)
        assert n == len(tokens)
        if n == 0:
            return 1.0, 0
        hits = 0
        wilds = 0
        w = self.param_str
        for a, b in zip(template, tokens):
            if a == w:
                wilds += 1
            elif a == b:
                hits += 1
        if include_params:
            hits += wilds
        return hits / n, wilds

    def merge_template(self, tokens: Sequence[str],
                       template: Sequence[str]) -> Tuple[str, ...]:
        """Positional merge keeping equal tokens, wildcarding the rest
        (reference drain3/drain.py:415-425)."""
        assert len(tokens) == len(template)
        w = self.param_str
        return tuple(b if a == b else w for a, b in zip(tokens, template))

    # ------------------------------------------------------------------ tree

    def _insert_path(self, cluster: ClusterRec) -> None:
        """Insert a cluster's CREATION-TIME token path into the prefix
        tree (rules per reference drain3/drain.py:324-388; the reference
        inserts once at creation and never re-inserts on template change,
        drain3/drain.py:211-213)."""
        tokens = cluster.routing
        n = len(tokens)
        level1 = self.root[_CHILD].get(n)
        if level1 is None:
            level1 = self.root[_CHILD][n] = _new_node()
        if n == 0:
            level1[_IDS] = [cluster.cid]
            return
        node = level1
        depth = 1
        w = self.param_str
        for token in tokens:
            if depth >= self.max_node_depth or depth >= n:
                # leaf: drop ids of evicted clusters, then append
                # (reference drain3/drain.py:344-351)
                live = [cid for cid in node[_IDS] if cid in self.registry]
                live.append(cluster.cid)
                node[_IDS] = live
                break
            children = node[_CHILD]
            nxt = children.get(token)
            if nxt is None:
                if self.parametrize_numeric_tokens and _has_digit(token):
                    # numeric-ish tokens always route to the wildcard child
                    # (reference drain3/drain.py:356-362)
                    nxt = children.get(w)
                    if nxt is None:
                        nxt = children[w] = _new_node()
                elif w in children:
                    if len(children) < self.max_children:
                        nxt = children[token] = _new_node()
                    else:
                        nxt = children[w]
                else:
                    # reference drain3/drain.py:372-382: reserve the last
                    # slot under max_children for the wildcard child
                    room = len(children) + 1
                    if room < self.max_children:
                        nxt = children[token] = _new_node()
                    elif room == self.max_children:
                        nxt = children[w] = _new_node()
                    else:
                        nxt = children[w]
            node = nxt
            depth += 1

    def _find_leaf(self, tokens: Sequence[str]) -> Optional[list]:
        """Descend the tree for a message; exact child first, wildcard
        fallback (reference drain3/drain.py:282-318)."""
        n = len(tokens)
        node = self.root[_CHILD].get(n)
        if node is None:
            return None
        if n == 0:
            return node
        depth = 1
        w = self.param_str
        for token in tokens:
            if depth >= self.max_node_depth or depth >= n:
                break
            children = node[_CHILD]
            node = children.get(token)
            if node is None:
                node = children.get(w)
            if node is None:
                return None
            depth += 1
        return node

    # ------------------------------------------------------------------ candidates

    def _best_of(self, cluster_ids: Sequence[int], tokens: Sequence[str],
                 sim_th: float, include_params: bool) -> Optional[ClusterRec]:
        """Lexicographic argmax on (sim, wildcard_count), first winner on
        full ties; gate on sim_th (reference drain3/drain.py:116-150).
        Reads bypass LRU recency."""
        best = None
        best_sim = -1.0
        best_wilds = -1
        for cid in cluster_ids:
            rec = self.registry.get(cid)  # plain dict get: no recency touch
            if rec is None:
                continue
            sim, wilds = self.score(rec.tokens, tokens, include_params)
            if sim > best_sim or (sim == best_sim and wilds > best_wilds):
                best_sim, best_wilds, best = sim, wilds, rec
        if best is not None and best_sim >= sim_th:
            return best
        return None

    def _search(self, tokens: Sequence[str], sim_th: float,
                include_params: bool) -> Optional[ClusterRec]:
        node = self._find_leaf(tokens)
        if node is None:
            return None
        if len(tokens) == 0:
            # single empty-string cluster per reference drain3/drain.py:296-298
            return self.registry.get(node[_IDS][0]) if node[_IDS] else None
        return self._best_of(node[_IDS], tokens, sim_th, include_params)

    def _ids_for_token_count(self, n: int) -> List[int]:
        """All cluster ids under the level-1 token-count node
        (reference drain3/drain.py:234-253; tree walk order)."""
        start = self.root[_CHILD].get(n)
        if start is None:
            return []
        out: List[int] = []
        stack = [start]
        while stack:
            node = stack.pop(0)
            out.extend(node[_IDS])
            stack.extend(node[_CHILD].values())
        return out

    # ------------------------------------------------------------------ train

    def ingest(self, content: str, order_key: str = "") -> Dict[str, object]:
        """One training step (reference drain3/drain.py:188-226).

        Returns the reference's miner-result fields
        (drain3/template_miner.py:144-150) plus the cluster's creation key.
        """
        return self.ingest_tokens(tokenize(content, self.extra_delimiters), order_key)

    def ingest_tokens(self, tokens: Sequence[str],
                      order_key: str = "",
                      routing_tokens: Optional[Sequence[str]] = None
                      ) -> Dict[str, object]:
        """Training step on pre-tokenized input (the Spark path tokenizes
        once in Catalyst and feeds token arrays through Arrow).

        ``routing_tokens`` overrides the tree-path tokens when a new
        cluster is created (used by the salted merge pass to preserve a
        bank cluster's original creation-time routing)."""
        hit = self._search(tokens, self.sim_th, include_params=False)
        if hit is None:
            self.counter += 1
            rec = ClusterRec(self.counter, tokens, created_key=order_key,
                             routing=routing_tokens)
            if self.max_clusters is not None and len(self.registry) >= self.max_clusters:
                self.registry.popitem(last=False)  # evict least-recently-used
            self.registry[rec.cid] = rec
            self._insert_path(rec)
            change = "cluster_created"
        else:
            rec = hit
            merged = self.merge_template(tokens, rec.tokens)
            change = "none" if merged == rec.tokens else "cluster_template_changed"
            rec.tokens = merged
            self.record_hit(rec, order_key)
        return {
            "cluster_id": rec.cid,
            "change_type": change,
            "cluster_size": rec.size,
            "template_mined": rec.template,
            "cluster_count": len(self.registry),
            "created_key": rec.created_key,
        }

    def record_hit(self, rec: ClusterRec, order_key: str) -> None:
        """Bookkeeping of an ingest that lands in an existing cluster:
        size, last-update key and the LRU recency touch."""
        rec.size += 1
        rec.updated_key = order_key
        if self.max_clusters is not None:
            self.registry.move_to_end(rec.cid)  # recency touch

    # ------------------------------------------------------------------ infer

    def match_tokens(self, tokens: Sequence[str],
                     strategy: str = "never") -> Optional[ClusterRec]:
        """Read-only perfect match (reference drain3/drain.py:427-472)."""
        check_strategy(strategy)
        if strategy == "always":
            return self._best_of(self._ids_for_token_count(len(tokens)),
                                 tokens, 1.0, include_params=True)
        found = self._search(tokens, 1.0, include_params=True)
        if found is not None or strategy == "never":
            return found
        return self._best_of(self._ids_for_token_count(len(tokens)),
                             tokens, 1.0, include_params=True)

    def match(self, content: str, strategy: str = "never") -> Optional[ClusterRec]:
        return self.match_tokens(tokenize(content, self.extra_delimiters), strategy)

    # ------------------------------------------------------------------ stats / state

    def total_assigned(self) -> int:
        # reference drain3/drain.py:228-232
        return sum(rec.size for rec in self.registry.values())

    def export_state(self) -> List[Tuple[int, List[str], int, str, str, List[str]]]:
        """Relational snapshot: rows in LRU recency order (oldest first),
        carrying both the current template and the creation-time routing
        tokens (the reference's jsonpickle snapshot preserves tree paths,
        drain3/template_miner.py:112-122; the routing column is what lets
        a relational snapshot do the same)."""
        return [(rec.cid, list(rec.tokens), rec.size, rec.created_key,
                 rec.updated_key, list(rec.routing))
                for rec in self.registry.values()]

    @classmethod
    def from_state(cls, rows, counter: Optional[int] = None, **kwargs) -> "TemplateBank":
        """Rebuild a bank from exported rows.

        The prefix tree is reconstructed by inserting each cluster's
        CREATION-TIME routing tokens in cluster-id order — i.e. the same
        (token path, insertion order) sequence the original run used —
        so the restored tree is path-identical to an uninterrupted run.
        Legacy 5-element rows (no routing) fall back to the final
        template, a documented approximation.  LRU recency follows row
        order."""
        bank = cls(**kwargs)
        recs = []
        for row in rows:
            cid, tokens, size, ck, uk = row[0], row[1], row[2], row[3], row[4]
            routing = row[5] if len(row) > 5 and row[5] is not None else tokens
            rec = ClusterRec(int(cid), list(tokens), created_key=ck or "",
                             size=int(size), routing=list(routing))
            rec.updated_key = uk or ""
            recs.append(rec)
        for rec in recs:          # recency order preserved
            bank.registry[rec.cid] = rec
        for rec in sorted(recs, key=lambda r: r.cid):  # creation-order tree
            bank._insert_path(rec)
        bank.counter = counter if counter is not None else \
            max((rec.cid for rec in recs), default=0)
        return bank
