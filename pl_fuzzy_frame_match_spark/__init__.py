"""PySpark-native fuzzy-match engine with the query and data-processing
capabilities of ``Edwardvaneechoud/pl-fuzzy-frame-match`` (reference at
/root/reference, studied for semantics only), re-expressed Spark-first,
plus large-scale training-data pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing, streaming).
"""

import sys

from ._zip_cache import install as _install_zip_cache

if "pyspark.worker_util" in sys.modules:
    # a pyspark Python worker that imports the engine stops re-reading
    # unchanged zip archives at every task start
    _install_zip_cache()

from .functions.kernels import similarity_column  # noqa: E402
from .models import FUZZY_TYPES, FuzzyMapping, FuzzyTypeLiteral  # noqa: E402
from .operators.matcher import (  # noqa: E402
    fuzzy_match_dfs,
    fuzzy_match_dfs_with_context,
    fuzzy_match_temp_dir,
)

__all__ = [
    "FuzzyMapping",
    "FuzzyTypeLiteral",
    "FUZZY_TYPES",
    "fuzzy_match_dfs",
    "fuzzy_match_dfs_with_context",
    "fuzzy_match_temp_dir",
    "similarity_column",
]

__version__ = "0.1.0"
