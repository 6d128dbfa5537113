"""Engine operators: relational primitives, dedup family, similarity
search, multimodal plumbing. Each operator is a pure function
``DataFrame -> DataFrame`` so plans compose them declaratively and
Catalyst sees the whole tree."""

from dss_nlp_ingestion_spark.operators.asof import asof_join_union  # noqa: F401
from dss_nlp_ingestion_spark.operators.dedup import (  # noqa: F401
    decontaminate,
    dup_groups,
    exact_dedup,
    history_filter,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_banded_pairs,
)
from dss_nlp_ingestion_spark.operators.graph import (  # noqa: F401
    canonical_filter,
    connected_components,
)
from dss_nlp_ingestion_spark.operators.merge import merge_into  # noqa: F401
from dss_nlp_ingestion_spark.operators.sampling import (  # noqa: F401
    assign_split,
    deterministic_sample,
    hash_fraction,
    kmv_distinct,
    pack_shards,
    stratified_sample,
)
from dss_nlp_ingestion_spark.operators.similarity import (  # noqa: F401
    brute_force_topk,
    bucketed_near_pairs,
    ivf_topk,
    multiprobe_bucket_topk,
)
