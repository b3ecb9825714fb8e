"""Parameter extraction as a vectorized Arrow UDF.

Reference: drain3/template_miner.py:205-331.  Regex construction runs
per *distinct template* behind an executor-local LRU (capacity per
drain3/template_miner_config.py:29); templates repeat heavily so the
per-row cost is a single compiled-regex match.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pyarrow as pa
from pyspark.sql import Column, types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from drain3_spark.config import EngineConfig

PARAMS_TYPE = T.ArrayType(T.StructType([
    T.StructField("value", T.StringType()),
    T.StructField("mask_name", T.StringType()),
]))


def extract_params_col(template: Column, message: Column,
                       cfg: EngineConfig,
                       exact_matching: bool = True) -> Column:
    """``array<struct<value,mask_name>>`` of slot values, null on mismatch."""
    rules = [(r.pattern, r.mask_with) for r in cfg.masking]
    prefix, suffix = cfg.mask_prefix, cfg.mask_suffix
    cache_cap = cfg.parameter_extraction_cache_capacity
    delims = tuple(cfg.extra_delimiters)
    out_type = to_arrow_type(PARAMS_TYPE)

    @arrow_udf(PARAMS_TYPE)
    def extract_udf(it: Iterator[Tuple[pa.Array, pa.Array]]) -> Iterator[pa.Array]:
        from drain3_spark.config import MaskRule
        from drain3_spark.core.extract import ParamExtractor
        from drain3_spark.core.masking import Masker
        masker = Masker([MaskRule(p, m) for p, m in rules], prefix, suffix)
        ex = ParamExtractor(masker, cache_cap, extra_delimiters=delims)
        for tpl_a, msg_a in it:
            out = []
            for tpl, msg in zip(tpl_a.to_pylist(), msg_a.to_pylist()):
                if tpl is None or msg is None:
                    out.append(None)
                else:
                    pairs = ex.extract(tpl, msg, exact_matching=exact_matching)
                    out.append(None if pairs is None else
                               [{"value": v, "mask_name": n} for v, n in pairs])
            yield pa.array(out, type=out_type)

    return extract_udf(template, message)
