"""Checkpointed engine state store (SURVEY.md C10, reference A13-A15).

The reference snapshots a pickled object graph to a file / Kafka topic /
Redis key and restores the latest on init
(drain3/persistence_handler.py:7-15, drain3/template_miner.py:80-122).
Here the state is *relational*: the cluster table plus a counter and a
batch high-watermark, committed atomically per batch:

    <root>/batches/<batch_id>/clusters/   parquet cluster table
    <root>/_committed_<batch_id>          JSON marker (counter, batch key)

A batch is visible iff its marker exists — markers are written *after*
the parquet, so a crash mid-write leaves no partial state ("latest
committed marker wins" == the reference Kafka backend's "last message of
the topic wins", drain3/kafka_persistence.py:26-34).  Iceberg deployments
swap this directory protocol for table snapshots (same semantics).

This is the engine's one state path: the reference's pluggable file /
Kafka / Redis / memory handlers reduce to where ``root`` lives, and both
drivers commit through ``jobs.MicroBatchStep``.
"""

from __future__ import annotations

import json
import os
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

from drain3_spark.operators.mining import CLUSTER_SCHEMA


class CheckpointStore:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------------ write

    def commit(self, batch_id: int, clusters: DataFrame, counter: int,
               batch_key: str = "") -> None:
        """Atomically commit a batch's cluster table + counter."""
        path = os.path.join(self.root, "batches", str(batch_id), "clusters")
        clusters.write.mode("overwrite").parquet(path)
        marker = os.path.join(self.root, f"_committed_{batch_id}")
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "counter": counter,
                       "batch_key": batch_key}, f)
        os.replace(tmp, marker)  # the atomic commit point

    # ------------------------------------------------------------------- read

    def committed_batches(self) -> List[int]:
        out = []
        for name in os.listdir(self.root):
            if name.startswith("_committed_") and not name.endswith(".tmp"):
                out.append(int(name.rsplit("_", 1)[1]))
        return sorted(out)

    def high_watermark(self) -> Optional[int]:
        batches = self.committed_batches()
        return batches[-1] if batches else None

    def latest_commit_time(self) -> Optional[float]:
        """Epoch mtime of the newest commit marker (snapshot-cadence
        clock, reference template_miner.py:128-131 last_save_time)."""
        hw = self.high_watermark()
        if hw is None:
            return None
        return os.path.getmtime(os.path.join(self.root, f"_committed_{hw}"))

    def latest(self, spark: SparkSession
               ) -> Tuple[Optional[int], List[tuple], int, str]:
        """(batch_id, cluster rows, counter, batch_key) of the latest commit;
        (None, [], 0, "") on a fresh store."""
        hw = self.high_watermark()
        if hw is None:
            return None, [], 0, ""
        with open(os.path.join(self.root, f"_committed_{hw}")) as f:
            meta = json.load(f)
        path = os.path.join(self.root, "batches", str(hw), "clusters")
        rows = [tuple(r) for r in
                spark.read.schema(CLUSTER_SCHEMA).parquet(path).collect()]
        return hw, rows, int(meta["counter"]), meta.get("batch_key", "")
