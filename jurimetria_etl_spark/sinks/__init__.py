"""Sinks — SURVEY §2.2 K1–K5 — plus store-layout maintenance."""

from jurimetria_etl_spark.sinks.maintenance import (  # noqa: F401
    compact_parquet,
    compact_store,
    maintain_ann_store,
    maintain_stores,
    recluster_ann_store,
    split_cell,
)
from jurimetria_etl_spark.sinks.writers import (  # noqa: F401
    persist,
    plot_horario,
    write_csv,
    write_parquet,
)
from jurimetria_etl_spark.storefs import store_prune  # noqa: F401
