"""Spark-job budget of the audio dedup path (``audio_near_dup_pairs``
then ``dedup_groups``), the operation of the ``audio_dedup`` benchmark
workload.  A change that adds a stage with its own job (a Python pass, a
persist and count) to this path exceeds the budget.  Jobs are counted
from the status tracker, as in ``test_mining_job_budget``."""

from drain3_spark import fixtures as FX
from drain3_spark.pipeline import audio_sim, dedup
from tests.test_mining_job_budget import _jobs

# the parquet read's schema job; the group table is the verify's two map
# jobs (the block Exchange fed by the embedding pass, and the slim pair
# dedup), the connected-components shuffle, the one-task union-find
# checkpoint and the collect.  The near-dup call itself runs no job: its
# embedding pass has one consumer and is not persisted.
DEDUP_JOBS = 6


def test_dedup_job_budget(spark, tmp_path):
    path = str(tmp_path / "clips")
    (FX.gen_clips(spark, 40, dirty=False, dur_lo=250, dur_hi=600)
     .unionByName(FX.gen_clip_dups(spark, 40, every=10, dur_lo=250,
                                   dur_hi=600))
     .write.parquet(path))

    def op():
        clips = spark.read.parquet(path)
        pairs = audio_sim.audio_near_dup_pairs(clips, threshold=0.999)
        return dedup.dedup_groups(pairs, "clip_id_a", "clip_id_b").collect()

    warm = op()
    groups, n = _jobs(spark, op)
    assert sorted(groups) == sorted(warm)
    assert {(r.id, r.group_id) for r in groups if not r.is_keeper} >= {
        (f"dup-{i:010d}", f"clip-{i:010d}") for i in range(0, 40, 10)}
    assert n <= DEDUP_JOBS
