"""Distributed template mining.

Spark lifecycle (SURVEY.md §3.1; semantics per reference
drain3/drain.py:188-226 and drain3/template_miner.py:134-162):

    scan → mask+tokenize (Catalyst, codegen) → derive group key
        → hash-shuffle on group key into defaultParallelism partitions
          (one shuffle; one Python task per core: each task pays a
          fixed worker cost, and by default AQE does not coalesce the
          partitions of a persisted plan)
        → sort within partitions on (group key, order key)       (JVM)
        → mapInArrow: one Python call per task folds the stream of
          Arrow batches, one kernel bank per run of a group key (persisted)
        → collect the bank cluster rows    (the one action; fills the cache)
        → driver: merge salted banks, renumber new clusters, LRU bound
        → cluster table as a local relation                     (no job)
        → broadcast local id map onto the fold's assignments (no shuffle)

Group independence is exact: in the reference the first parse-tree
level is the token count (drain3/drain.py:288-290), so messages with
different token counts never interact.  "scalable" mode further splits
groups by the canonical token prefix — the deeper tree levels — which
the reference also keeps independent except for the rare cross-prefix
wildcard fallback (drain3/drain.py:313-314); that fallback is the one
documented approximation of scalable mode.

Cluster ids: the reference assigns sequential ids in creation order from
a single counter (drain3/drain.py:201-202).  Here each group mines with
local ids and every created cluster records the order key of its
creating row; a post-pass renumbers new clusters by that key, so with an
arrival-ordered key the ids are exactly the reference's.

Order-key contract: the order columns must sort the same as their
string form (e.g. zero-padded ids, ISO dates) — the engine uses the
concatenated string form both as cluster identity and as the
deterministic creation / recency order.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, functions as F, types as T

logger = logging.getLogger(__name__)

from drain3_spark.config import EngineConfig
from drain3_spark.core.kernel import ClusterRec, TemplateBank
from drain3_spark.operators.masking import mask_col
from drain3_spark.util import AppScopedCache, arrow_batch, local_df
from drain3_spark.operators.tokenize import group_key_cols, tokens_col

KEY_SEP = "\x1f"

# state-table schema: one row per live cluster.  ``routing`` is the
# creation-time token path (space-joined): the reference inserts a
# cluster into its parse tree once, at creation, and never re-inserts on
# template change (drain3/drain.py:211-213), so restoring a tree from
# final templates alone would put wildcard children where an
# uninterrupted run has none.
CLUSTER_SCHEMA = T.StructType([
    T.StructField("cluster_id", T.LongType()),
    T.StructField("group_key", T.StringType()),
    T.StructField("token_count", T.IntegerType()),
    T.StructField("template", T.StringType()),
    T.StructField("size", T.LongType()),
    T.StructField("created_key", T.StringType()),
    T.StructField("updated_key", T.StringType()),
    T.StructField("routing", T.StringType()),
])

# a fold's cluster row as the driver reads it: CLUSTER_SCHEMA's layout,
# with the bank ref ("g:<prior id>" or "n:<created_key>") in place of
# the final id and the creating row's ckey as created_key
BANK_COLS = ("cluster_ref", "group_key", "token_count", "template", "size",
             "ckey", "updated_key", "routing")


def _pad_prior(row: tuple) -> tuple:
    """Tolerate pre-routing 7-column state tuples (routing <- template)."""
    row = tuple(row)
    if len(row) < 8:
        return row + (row[3],)
    if row[7] is None:
        return row[:7] + (row[3],)
    return row


def cluster_tuples_to_state(rows) -> List[tuple]:
    """CLUSTER_SCHEMA tuples -> kernel ``from_state`` rows
    (cid, template_tokens, size, created_key, updated_key, routing_tokens)."""
    out = []
    for r in rows:
        tokens = str(r[3]).split(" ") if r[3] else []
        routing = (str(r[7]).split(" ") if len(r) > 7 and r[7] else tokens)
        out.append((int(r[0]), tokens, int(r[4]), r[5] or "", r[6] or "", routing))
    return out


def make_bank(cfg: EngineConfig, rows=(), max_clusters: Optional[int] = None):
    """The kernel bank of ``cfg.engine`` with ``cfg``'s settings, restored
    from CLUSTER_SCHEMA tuples (LRU recency follows row order)."""
    bank_cls = TemplateBank
    if cfg.engine == "jaccard":
        from drain3_spark.core.kernel_jaccard import JaccardBank as bank_cls
    return bank_cls.from_state(
        cluster_tuples_to_state(rows), sim_th=cfg.sim_th, depth=cfg.depth,
        max_children=cfg.max_children, max_clusters=max_clusters,
        param_str=cfg.param_str,
        parametrize_numeric_tokens=cfg.parametrize_numeric_tokens)


@dataclass
class MiningResult:
    assignments: DataFrame   # order cols + cluster_id, change_type, cluster_size, template_mined
    clusters: DataFrame      # CLUSTER_SCHEMA, a local relation
    raw: DataFrame           # persisted UDF output (caller unpersists via .unpersist())
    prior_max: int = 0       # counter value the batch started from
    new_clusters: int = 0    # clusters this batch created (after the merge)

    def updated_counter(self) -> int:
        """True monotonic cluster counter after this batch: prior counter
        + number of clusters CREATED (reference drain3/drain.py:201-202 —
        the counter never decreases, so ids of clusters later evicted by
        the LRU bound are never reused).  ``max(live ids)`` is wrong for
        exactly that reason."""
        return self.prior_max + self.new_clusters

    def unpersist(self) -> None:
        self.raw.unpersist()


_GROUP_EST_CACHE = AppScopedCache()


def _estimate_groups(keyed: DataFrame, gnames: Sequence[str]) -> int:
    """Bounded-prefix group-count estimate, memoized per (application,
    logical plan).  It is an ESTIMATE feeding only the salt choice, so a
    scanned path whose files changed under an unchanged plan returning a
    stale count is harmless; a new application drops the old one's
    entries (``AppScopedCache``)."""
    proj = keyed.select(*gnames)
    return _GROUP_EST_CACHE.get(
        keyed.sparkSession, (proj.semanticHash(),),
        lambda: max(1, proj.limit(50000).distinct().count()))


def _fold_schema(df: DataFrame, order_cols: Sequence[str]) -> T.StructType:
    fields = [T.StructField("row_kind", T.StringType())]
    for c in order_cols:
        fields.append(df.schema[c])
    fields += [
        T.StructField("ckey", T.StringType()),
        T.StructField("cluster_ref", T.StringType()),
        T.StructField("change_type", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("template", T.StringType()),
        T.StructField("group_key", T.StringType()),
        T.StructField("token_count", T.IntegerType()),
        T.StructField("updated_key", T.StringType()),
        T.StructField("routing", T.StringType()),
    ]
    return T.StructType(fields)


def mine_templates(df: DataFrame,
                   cfg: EngineConfig,
                   content_col: str = "transcript",
                   order_cols: Sequence[str] = ("ds", "clip_id"),
                   prior_clusters: Optional[List[tuple]] = None,
                   prior_counter: int = 0) -> MiningResult:
    """Mine templates from ``content_col``; returns per-row assignments and
    the updated cluster (state) table."""
    cfg.validate()
    spark = df.sparkSession
    from drain3_spark.shipping import ship_package
    ship_package(spark)
    order_cols = list(order_cols)

    # NO util.widen_small_scan here (measured): mining's own group-key
    # Exchange already redistributes before the heavy (kernel) stage, so
    # pre-widening a small scan only adds a round-robin shuffle ahead of
    # the cheap masking projection — 1.8s vs 1.25s at sf0.1 local[32]

    masked = mask_col(F.col(content_col), cfg.masking, cfg.mask_prefix, cfg.mask_suffix)
    # the shuffle carries the masked STRING, not the token array:
    # list<string> columns cost far more to Arrow-serialize and shuffle
    # than one string per row, and the kernel re-tokenizes in-UDF with
    # kernel.tokenize — parity-locked to this Catalyst tokenizer by
    # test_unicode_whitespace_tokenize_parity.  The group-key columns
    # below still derive from the token expression, but Catalyst prunes
    # the array away before the Exchange.
    keyed = df.select(
        *order_cols,
        F.concat_ws(KEY_SEP, *[F.col(c).cast("string") for c in order_cols]).alias("ckey"),
        masked.alias("masked"),
    )
    # null content never reaches the kernel: such rows are the null-rate
    # check's concern (SURVEY.md C2), not the miner's — the reference
    # would raise on a None message too (drain3/drain.py:182)
    keyed = keyed.filter(F.col("masked").isNotNull())
    toks = tokens_col(F.col("masked"), cfg.extra_delimiters)
    gcols = group_key_cols(toks, cfg)
    keyed = keyed.select("*", *gcols)
    if cfg.engine == "jaccard":
        gnames = ["first_token"]
        keyed = keyed.withColumn("token_count", F.size(toks))
    else:
        gnames = ["token_count"] + (["prefix_key"] if len(gcols) > 1 else [])
    # the bank's group_key joins the group-key columns before the salt
    n_key = len(gnames)
    # salt resolution: 0 = auto — the fold always runs defaultParallelism
    # tasks; salt only spreads large groups across them (~6-13 distinct
    # token counts on template corpora would otherwise leave some of
    # those tasks with one huge group and others idle).
    # salt = ceil(2*parallelism / est_groups) so groups*salt ≈ 2x cores.
    # Corpora that already have many groups resolve to salt=1 and skip
    # the merge pass entirely.  The group-count estimate is:
    #   1. distinct group keys in the PRIOR state when one exists —
    #      deterministic and free (no job); incremental loops never pay
    #      an estimate job after the first batch;
    #   2. otherwise a bounded-prefix job (<=50k rows), memoized by the
    #      projection's semantic hash so repeated mines over the same
    #      input pay it once per session.  The prefix sample is
    #      partition-layout dependent; the resolved salt is logged so a
    #      semantics flip (salt 1 <-> >1 changes assignment-side
    #      change_type/cluster_size to bank-local) is always visible.
    #      The cluster table itself is salt-invariant.
    if cfg.mining_salt == 0:
        if prior_clusters:
            est_groups = max(1, len({r[1] for r in prior_clusters}))
        else:
            est_groups = _estimate_groups(keyed, gnames)
        par = spark.sparkContext.defaultParallelism
        salt = max(1, min(par, -(-2 * par // est_groups)))
        logger.info("mining auto-salt resolved: salt=%d (est_groups=%d, "
                    "parallelism=%d)", salt, est_groups, par)
    else:
        salt = cfg.mining_salt
    salted = salt > 1
    if salted:
        keyed = keyed.withColumn(
            "_salt", F.pmod(F.xxhash64("ckey"), F.lit(salt)))
        gnames.append("_salt")

    # broadcast prior state to executors (bounded by max_clusters)
    prior_rows: List[tuple] = [_pad_prior(r) for r in (prior_clusters or [])]
    bc_prior = spark.sparkContext.broadcast(prior_rows)
    prior_max = max([prior_counter] + [int(r[0]) for r in prior_rows]) if prior_rows else prior_counter

    # per-group LRU is exact for single-group data; the global bound is
    # re-applied at commit (reference drain3/drain.py:37-51 semantics).
    # salted banks never evict locally — the driver-side finish after
    # the bank merge owns the bound
    bank_max_clusters = None if salted else cfg.max_clusters
    extra_delims = tuple(cfg.extra_delimiters)
    out_schema = _fold_schema(df, order_cols)

    def fold_partition(batches):
        # tokenize in-task from the masked string (kernel.tokenize is
        # parity-locked to the Catalyst tokenizer): the shuffle moved
        # one string per row instead of a list<string> column
        from drain3_spark.core.kernel import tokenize as _tokenize

        prior_by_group: dict = {}
        for r in bc_prior.value:
            prior_by_group.setdefault(r[1], []).append(r)
        out = []   # rows in out_schema order

        def emit(kind, ovals, ckey, cref, change, size, template, token_count,
                 updated_key, routing=""):
            out.append((kind, *ovals, ckey, cref, change, size, template,
                        group_key, token_count, updated_key, routing))

        def ref_of(rec: ClusterRec) -> str:
            return f"g:{rec.cid}" if rec.cid in prior_ids else f"n:{rec.created_key}"

        def emit_bank():
            for rec in bank.registry.values():
                emit("c", first_ovals, rec.created_key, ref_of(rec), "",
                     int(rec.size), rec.template, len(rec.tokens),
                     rec.updated_key, " ".join(rec.routing))

        def flush():
            batch = arrow_batch(out, out_schema)
            out.clear()
            return batch

        # Exact-repeat fast path (drain engine): an ingest whose
        # change_type is "none" mutates nothing the tree search reads
        # (leaf id lists only grow on cluster_created; template tokens
        # only change on cluster_template_changed; size/updated_key/
        # recency are not search inputs), so an IDENTICAL masked string
        # must resolve to the same cluster with the same "none" outcome
        # until some OTHER row mutates the bank.  Memoize that, clear on
        # any mutating change — on template corpora nearly every row is
        # an exact repeat of a recent one, and the memo replaces
        # tokenize + tree walk + per-candidate scoring with one dict
        # probe (the sequential fold is the mining job's hot loop).
        # The jaccard bank keeps its own structures — no fast path.
        use_memo = cfg.engine != "jaccard"
        run = bank = None
        # rows arrive sorted by (group key, order key): each run of one
        # group key is one bank, folded in order; the bank and its memo
        # carry across Arrow batch boundaries
        for batch in batches:
            ovals_cols = [batch.column(c).to_pylist() for c in order_cols]
            ckeys = batch.column("ckey").to_pylist()
            masked_list = batch.column("masked").to_pylist()
            token_counts = batch.column("token_count").to_pylist()
            keys = list(zip(*[batch.column(g).to_pylist() for g in gnames]))
            for i, key in enumerate(keys):
                if key != run:
                    if bank is not None:
                        emit_bank()
                    run = key
                    group_key = KEY_SEP.join(str(v) for v in key[:n_key])
                    group_token_count = int(token_counts[i])
                    first_ovals = [col[i] for col in ovals_cols]
                    bank = make_bank(cfg, prior_by_group.get(group_key, ()),
                                     bank_max_clusters)
                    prior_ids = set(bank.registry.keys())
                    memo: dict = {}
                mstr = masked_list[i]
                hit = memo.get(mstr) if use_memo else None
                if hit is not None:
                    rec, tmpl = hit
                    bank.record_hit(rec, ckeys[i])
                    emit("a", [col[i] for col in ovals_cols], ckeys[i],
                         ref_of(rec), "none", int(rec.size), tmpl,
                         group_token_count, ckeys[i])
                    continue
                r = bank.ingest_tokens(_tokenize(mstr, extra_delims),
                                       order_key=ckeys[i])
                rec = bank.registry[r["cluster_id"]]
                if use_memo:
                    if r["change_type"] == "none":
                        memo[mstr] = (rec, r["template_mined"])
                    else:
                        memo.clear()
                emit("a", [col[i] for col in ovals_cols], ckeys[i], ref_of(rec),
                     r["change_type"], int(r["cluster_size"]),
                     r["template_mined"], group_token_count, ckeys[i])
            if out:
                yield flush()
        if bank is not None:
            emit_bank()
            yield flush()

    # one Python task per core: the fold is persisted, and AQE does not
    # coalesce a cached plan's shuffle partitions (spark.sql.optimizer.
    # canChangeCachedPlanOutputPartitioning is off by default), so the
    # Exchange is sized here, not by spark.sql.shuffle.partitions.  The
    # JVM sort lays each group out as one contiguous run in order-key
    # order (nulls last, as a pandas sort puts them), so the task folds
    # a stream of Arrow batches with one Python call: no per-group
    # pandas frame, and worker memory holds one batch plus the bank
    folded = (keyed
              .repartition(spark.sparkContext.defaultParallelism, *gnames)
              .sortWithinPartitions(*gnames, *[F.col(c).asc_nulls_last()
                                               for c in order_cols])
              .mapInArrow(fold_partition, out_schema)
              .persist())
    # the mine's one action: it fills the fold cache with every row (the
    # assignments below scan it, never re-running the fold) and brings
    # the bank cluster rows to the driver, which finishes the mine
    bank_rows = [tuple(r) for r in (folded
                                    .filter(F.col("row_kind") == "c")
                                    .select(*BANK_COLS).collect())]
    if salted:
        c_rows, ref_map = _merge_banks(bank_rows, cfg, prior_rows)
    else:
        c_rows, ref_map = bank_rows, {r[0]: r[0] for r in bank_rows}

    # deterministic renumbering: prior ids are kept, new clusters continue
    # the counter in creation-key order (reference drain3/drain.py:201-202)
    new = sorted((r for r in c_rows if r[0].startswith("n:")),
                 key=lambda r: r[5])
    ids = {r[0]: prior_max + i for i, r in enumerate(new, 1)}
    ids.update((r[0], int(r[0][2:])) for r in c_rows if r[0].startswith("g:"))
    clusters = [(ids[r[0]],) + r[1:] for r in c_rows]
    # prior clusters whose group saw no rows this batch pass through
    # unchanged (they never reached a fold task)
    touched = {r[1] for r in c_rows}
    clusters += [r for r in prior_rows if r[1] not in touched]
    # global LRU bound re-applied at commit time: keep the max_clusters
    # most-recently-updated clusters, a NULL updated_key last
    # (reference drain3/drain.py:37-51)
    if cfg.max_clusters is not None:
        clusters.sort(key=lambda c: (c[6] is not None, c[6] or "", int(c[0])),
                      reverse=True)
        del clusters[cfg.max_clusters:]
    clusters.sort(key=lambda c: int(c[0]))

    # assignment rows carry their BANK's refs.  The map is taken before
    # the LRU cut, so rows of an evicted cluster keep its id.
    # change_scope surfaces the documented salted-mode approximation IN
    # DATA, not just a log line: under auto-salt, per-row change_type /
    # cluster_size are BANK-LOCAL (the cluster table stays exact and
    # salt-invariant); downstream consumers filter on scope='global'
    # when they need reference-exact per-row change semantics
    id_map = local_df(spark, [(ref, ids[m]) for ref, m in ref_map.items()],
                      "cluster_ref string, cluster_id long")
    assignments = (folded.filter(F.col("row_kind") == "a")
                   .join(F.broadcast(id_map), "cluster_ref")
                   .select(*order_cols,
                           "cluster_id",
                           "change_type",
                           F.col("size").alias("cluster_size"),
                           F.col("template").alias("template_mined"),
                           F.lit("bank" if salted else "global")
                           .alias("change_scope")))

    return MiningResult(assignments=assignments,
                        clusters=local_df(spark, clusters, CLUSTER_SCHEMA),
                        raw=folded, prior_max=prior_max,
                        new_clusters=len(new))


def _merge_banks(rows: List[tuple], cfg: EngineConfig,
                 prior_rows: List[tuple]):
    """Two-phase mine+merge reconciliation (SURVEY.md §7) of the salted
    banks, on the driver, one ``group_key`` at a time.

    ``rows`` are the fold's bank cluster rows (``BANK_COLS``).  The
    driver holds all of them: Σ bank clusters ≤ clusters × salt rows.
    They merge in (ckey, cluster_ref, template) order, so the result does
    not depend on the order they were collected in.

    * bank copies of a PRIOR cluster merge with the ENGINE's template
      merge — positional for drain (associative for equal-length
      sequences, drain3/drain.py:415-425), longer-sequence/intersection
      for jaccard (drain3/jaccard_drain.py:183-202, where bank copies of
      one cluster can legitimately differ in length); size = prior +
      per-bank increments.
    * NEW bank clusters are re-ingested into a merge bank of the SAME
      engine (seeded with the merged priors) in creation-key order — a
      new bank cluster may land in a prior cluster or found a merged new
      cluster; its bank size transfers to the target.

    Returns the merged cluster rows (``BANK_COLS``, keyed by merged ref:
    ``g:<prior id>`` or ``n:<created_key>``) and the map from every bank
    ref to its merged ref.
    """
    prior_by_id = {int(p[0]): p for p in prior_rows}
    groups: dict = {}
    for r in sorted(rows, key=lambda r: (r[5] or "", r[0], r[3] or "")):
        groups.setdefault(r[1], []).append(r)

    merged: List[tuple] = []
    ref_map: dict = {}
    for gkey, grows in groups.items():
        bank = make_bank(cfg)
        merged_prior: dict = {}
        for ref, _, _, template, size, _, upd, _ in grows:
            if not ref.startswith("g:"):
                continue
            pid = int(ref[2:])
            tks = template.split(" ") if template else []
            mp = merged_prior.get(pid)
            if mp is None:
                mp = merged_prior[pid] = {"tokens": tks, "delta": 0,
                                          "upd": upd or ""}
            else:
                mp["tokens"] = list(bank.merge_template(tks, mp["tokens"]))
                mp["upd"] = max(mp["upd"], upd or "")
            mp["delta"] += int(size) - int(prior_by_id[pid][4])

        for pid in sorted(merged_prior):
            p, mp = prior_by_id[pid], merged_prior[pid]
            rec = ClusterRec(pid, mp["tokens"], created_key=p[5] or "",
                             size=int(p[4]) + mp["delta"],
                             routing=p[7].split(" ") if p[7] else [])
            rec.updated_key = max(p[6] or "", mp["upd"])
            bank.registry[rec.cid] = rec
            bank._insert_path(rec)
            ref_map[f"g:{pid}"] = f"g:{pid}"
        prior_ids = set(bank.registry)
        # ingest resets a matched cluster's updated_key to the ingested
        # copy's creation key: keep the running max over every copy
        upd_max = {cid: rec.updated_key for cid, rec in bank.registry.items()}

        def merged_ref_of(rec: ClusterRec) -> str:
            return (f"g:{rec.cid}" if rec.cid in prior_ids
                    else f"n:{rec.created_key}")

        for ref, _, _, template, size, ckey, upd, routing in grows:
            if not ref.startswith("n:"):
                continue
            res = bank.ingest_tokens(
                template.split(" ") if template else [],
                order_key=ckey or "",
                routing_tokens=routing.split(" ") if routing else [])
            rec = bank.registry[int(res["cluster_id"])]
            rec.size += int(size) - 1  # ingest counted 1; bank size owns it
            rec.updated_key = upd_max[rec.cid] = max(
                upd_max.get(rec.cid, ""), rec.updated_key, upd or "")
            ref_map[ref] = merged_ref_of(rec)

        merged += [(merged_ref_of(rec), gkey, len(rec.tokens), rec.template,
                    rec.size, rec.created_key, rec.updated_key,
                    " ".join(rec.routing))
                   for rec in bank.registry.values()]
    return merged, ref_map
