"""drain3_spark — a PySpark-native schema + constraint validation engine.

Re-expresses the capabilities of the reference streaming template miner
(logpai/Drain3, read-only at /root/reference) as idiomatic Spark over a
table of audio clip + transcript pairs:

* template mining / matching / parameter extraction (reference
  ``drain3/drain.py``, ``drain3/template_miner.py``) as DataFrame
  transformations + Arrow-batch Python operators (``mapInArrow``,
  ``arrow_udf``),
* a validation-operator family (schema, column stats, uniqueness,
  referential integrity, distribution drift, audio payload decode),
* a checkpointed state store mirroring the reference's persistence
  semantics (``drain3/persistence_handler.py``).

Everything here is written from scratch against public Spark APIs; the
reference is cited in docstrings (file:line) only to anchor semantics.
"""

from drain3_spark.config import EngineConfig, MaskRule
from drain3_spark.shipping import _reuse_unchanged_zip_directories

_reuse_unchanged_zip_directories()

__all__ = ["EngineConfig", "MaskRule"]
__version__ = "0.1.0"
