"""Jaccard-similarity mining kernel (reference engine ``JaccardDrain``,
drain3/jaccard_drain.py:10-227).

Differences from the positional kernel (drain3_spark.core.kernel):

* level-1 tree key is the FIRST TOKEN, not the token count
  (drain3/jaccard_drain.py:22-31) — clusters of different lengths can
  merge;
* similarity is Jaccard over token sets with a 1.3 gain capped at 1.0
  (drain3/jaccard_drain.py:150-180); wildcard slots are removed from
  both sides per the reference's rules;
* template merge keeps the longer sequence and wildcards tokens outside
  the intersection when lengths differ (drain3/jaccard_drain.py:183-202);
* read-only match uses required similarity 0.8, not 1.0
  (drain3/jaccard_drain.py:204-227).
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from drain3_spark.core.kernel import (ClusterRec, TemplateBank, _CHILD, _IDS,
                                      _new_node, check_strategy)


class JaccardBank(TemplateBank):

    # ------------------------------------------------------------------ tree

    def _insert_path(self, cluster: ClusterRec) -> None:
        # creation-time routing tokens, like the base kernel: jaccard
        # merges change template length and can wildcard tree-level
        # positions, but the reference never re-inserts tree paths
        # (drain3/jaccard_drain.py:183-202 mutate the template only)
        tokens = cluster.routing
        n = len(tokens)
        first = tokens[0] if tokens else ""
        level1 = self.root[_CHILD].get(first)
        if level1 is None:
            level1 = self.root[_CHILD][first] = _new_node()
        if n == 0:
            level1[_IDS] = [cluster.cid]
            return
        node = level1
        if n == 1:
            live = [cid for cid in node[_IDS] if cid in self.registry]
            live.append(cluster.cid)
            node[_IDS] = live
            return
        depth = 1
        w = self.param_str
        for token in tokens[1:]:
            if depth >= self.max_node_depth or depth >= n - 1:
                live = [cid for cid in node[_IDS] if cid in self.registry]
                live.append(cluster.cid)
                node[_IDS] = live
                break
            children = node[_CHILD]
            nxt = children.get(token)
            if nxt is None:
                if self.parametrize_numeric_tokens and any(c.isdigit() for c in token):
                    nxt = children.get(w)
                    if nxt is None:
                        nxt = children[w] = _new_node()
                elif w in children:
                    if len(children) < self.max_children:
                        nxt = children[token] = _new_node()
                    else:
                        nxt = children[w]
                else:
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
        first = tokens[0] if tokens else ""
        node = self.root[_CHILD].get(first)
        if node is None:
            return None
        if len(tokens) == 0:
            return node
        depth = 1
        w = self.param_str
        for token in tokens[1:]:
            if depth >= self.max_node_depth or depth >= len(tokens) - 1:
                break
            children = node[_CHILD]
            node = children.get(token)
            if node is None:
                node = children.get(w)
            if node is None:
                return None
            depth += 1
        return node

    # ------------------------------------------------------------------ sim

    def score(self, template: Sequence[str], tokens: Sequence[str],
              include_params: bool) -> Tuple[float, int]:
        if len(template) == 0:
            return 1.0, 0
        w = self.param_str
        wilds = sum(1 for t in template if t == w)
        right = list(tokens)
        if len(template) == len(tokens) and wilds > 0:
            right = [x for i, x in enumerate(tokens) if template[i] != w]
        left = list(template)
        if include_params:
            left = [x for x in left if x != w]
        sa, sb = set(left), set(right)
        union = sa | sb
        sim = (len(sa & sb) / len(union)) if union else 0.0
        sim = sim * 1.3 if sim * 1.3 < 1 else 1.0
        return sim, wilds

    def merge_template(self, tokens: Sequence[str],
                       template: Sequence[str]) -> Tuple[str, ...]:
        w = self.param_str
        if len(tokens) == len(template):
            return tuple(b if a == b else w for a, b in zip(tokens, template))
        inter = set(tokens) & set(template)
        longer = list(tokens) if len(tokens) > len(template) else list(template)
        return tuple(t if t in inter else w for t in longer)

    # ------------------------------------------------------------------ match

    def match_tokens(self, tokens: Sequence[str],
                     strategy: str = "never") -> Optional[ClusterRec]:
        check_strategy(strategy)
        required = 0.8  # drain3/jaccard_drain.py:209
        first = tokens[0] if tokens else ""

        def full() -> Optional[ClusterRec]:
            return self._best_of(self._ids_under_key(first), tokens,
                                 required, include_params=True)

        if strategy == "always":
            return full()
        found = self._search(tokens, required, include_params=True)
        if found is not None or strategy == "never":
            return found
        return full()

    def _ids_under_key(self, first: str) -> List[int]:
        start = self.root[_CHILD].get(first)
        if start is None:
            return []
        out: List[int] = []
        stack = [start]
        while stack:
            node = stack.pop(0)
            out.extend(node[_IDS])
            stack.extend(node[_CHILD].values())
        return out

    def _search(self, tokens: Sequence[str], sim_th: float,
                include_params: bool) -> Optional[ClusterRec]:
        node = self._find_leaf(tokens)
        if node is None:
            return None
        if len(tokens) == 0:
            return self.registry.get(node[_IDS][0]) if node[_IDS] else None
        return self._best_of(node[_IDS], tokens, sim_th, include_params)
