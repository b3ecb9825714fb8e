from drain3_spark.operators.masking import mask_col, java_regex
from drain3_spark.operators.tokenize import tokens_col, group_key_cols
from drain3_spark.operators.mining import mine_templates, MiningResult
from drain3_spark.operators.matching import match_clusters
from drain3_spark.operators.extraction import extract_params_col

__all__ = [
    "mask_col", "java_regex", "tokens_col", "group_key_cols",
    "mine_templates", "MiningResult",
    "match_clusters",
    "extract_params_col",
]
