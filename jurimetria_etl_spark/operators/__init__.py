"""Operator library: reference-parity relational operators (SURVEY §2) plus
the large-scale training-data extensions (dedup, similarity, text analysis,
multimodal).  Everything is a pure DataFrame→DataFrame function so Catalyst
sees one logical plan end-to-end.
"""

from jurimetria_etl_spark.operators.ann_store import (  # noqa: F401
    ann_ivf_topk_store,
    ann_ivf_topk_store_batch,
    ann_store_occupancy,
    append_ann_store,
    build_ann_store,
    load_ann_store,
    read_ann_centroids,
    resolve_ann_store,
    write_ann_centroids,
)
from jurimetria_etl_spark.operators.flatten import (  # noqa: F401
    flatten_hits,
    movimentos_sorted,
    nomes_assuntos,
)
from jurimetria_etl_spark.operators.filters import (  # noqa: F401
    date_range_null_pass,
)
from jurimetria_etl_spark.operators.joins import enrich_municipio  # noqa: F401
from jurimetria_etl_spark.operators.setops import union_all_by_name  # noqa: F401
from jurimetria_etl_spark.operators.sampling import (  # noqa: F401
    deterministic_sample,
    pack_into_shards,
    stratified_sample,
)
from jurimetria_etl_spark.operators.stats import (  # noqa: F401
    basic_stats,
    percentile_cont_by_group,
    row_count,
)
from jurimetria_etl_spark.operators.decontaminate import (  # noqa: F401
    build_benchmark_store,
    flag_contamination,
    load_benchmark_store,
    remove_contaminated,
    remove_span_contaminated,
)
