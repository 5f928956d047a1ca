"""SQL surface: register the full medallion stack as named temp views.

The reference's analytics users write ClickHouse SQL against named
tables (`bronze_*`, `silver_*`, the gold view — 01/02/03-*.sql);
migrating them means giving Spark SQL the same catalog.  One call makes
every layer queryable by name::

    from rust_near_indexer_spark.views import register_views
    register_views(spark, sf_dir="/root/testdata/sf0.01")
    spark.sql("SELECT event, count(*) FROM silver_transfers GROUP BY 1")

Views are lazy logical plans — registering costs nothing; Catalyst
inlines a view's plan into each consuming query, so predicate pushdown
and column pruning cross the view boundary (an over-view query reads
exactly the columns/rows it needs from parquet, same as the DataFrame
formulation).  The bronze frames come from the per-session cache
(queries/near_events.bronze_tables), so repeated SQL over bronze/silver
never re-runs the state fixpoint.

CLI: ``python -m rust_near_indexer_spark sql "SELECT ..."``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def register_views(
    spark: SparkSession,
    sf_dir: str | None = None,
    include_artifacts: bool | None = None,
) -> list[str]:
    """Create/replace temp views for every layer; returns the view names.

    ``sf_dir`` additionally registers the driver testdata tables (the
    TPC-H-ish + documents/embeddings set) through ``tables.load`` so the
    schema-normalization conventions (ts/ts_ns duality, float32
    embeddings) hold for SQL users too.

    ``include_artifacts`` controls the dedup/ANN index views (ADVICE
    r08: eagerly building BOTH indexes made the `sql` CLI pay two index
    builds for a query touching neither, and hard-failed without an
    embeddings table).  Default ``None`` registers an artifact's views
    only if that artifact is ALREADY BUILT on disk (a pure read —
    costs nothing); ``True`` forces the builds; ``False`` skips them.
    An artifact whose corpus file ``sf_dir`` lacks (say, no
    embeddings.parquet) is skipped.
    """
    from .plans import silver
    from .plans.gold import intents_metrics
    from .queries.near_events import bronze_tables, load_assets
    from .tables import load

    names: list[str] = []

    if sf_dir is not None:
        for t in TESTDATA_TABLES:
            # a corpus dir need not carry every table (e.g. documents
            # without embeddings — ADVICE r08): register what exists
            if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
                load(spark, sf_dir, t).createOrReplaceTempView(t)
                names.append(t)

    bronze = bronze_tables(spark)
    for key, df in bronze.items():
        name = f"bronze_{key}"
        df.createOrReplaceTempView(name)
        names.append(name)

    assets = load_assets(spark)
    assets.createOrReplaceTempView("defuse_assets")
    names.append("defuse_assets")

    ev = bronze["events"]
    for name, df in silver.all_silver_tables(ev).items():
        df.createOrReplaceTempView(name)
        names.append(name)

    gold = intents_metrics(
        silver.nep_245_events(ev), silver.dip4_token_diff(ev), assets
    )
    gold.createOrReplaceTempView("gold_intents_metrics")
    names.append("gold_intents_metrics")

    # The maintained indexes as SQL tables too (``<kind>_<table>``): an
    # analyst asking "which near-dup cluster is doc 123 in" or "which
    # IVF list holds vector 42" writes SQL against the artifact, exactly
    # like the reference's users query ClickHouse state tables.  Views
    # over the range-clustered parquet keep min/max pruning (a point
    # predicate on the clustered id reads one file).  By default only an
    # artifact already built is registered: a `sql` CLI query that
    # touches no index view must not pay two index builds (ADVICE r08).
    if sf_dir is not None and include_artifacts is not False:
        from . import ann_artifact, dedup_artifact
        from .artifact_io import ensure, gate_path, is_built

        for kind in (dedup_artifact.KIND, ann_artifact.KIND):
            if not os.path.exists(os.path.join(sf_dir, kind.corpus_file)):
                continue
            if include_artifacts or is_built(gate_path(kind, spark, sf_dir)):
                for table, df in ensure(kind, spark, sf_dir).items():
                    df.createOrReplaceTempView(f"{kind.name}_{table}")
                    names.append(f"{kind.name}_{table}")
    return names
