"""nba_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference repo ``DaSilvaDub/NBA-DATA-PIPELINE`` (see SURVEY.md), re-expressed
Spark-first: DataFrame/SQL logical plans optimized by Catalyst, Pandas UDFs
only where built-ins can't express the semantics, Structured Streaming for
the reference's polling-loop ingestion shapes.

Layout:
    session     — SparkSession factory tuned for local[N] and cluster scale
    io          — table readers/writers (parquet seam, partitioned sinks)
    functions/  — scalar expression library (regex extraction, odds math, text)
    operators/  — DataFrame->DataFrame operators (normalize, coerce, dedup,
                  similarity, text analysis, analytics, completeness gates)
    sources/    — ingestion seams (html tables, csv, config, the polldir
                  streaming source)
    plans/      — the query catalog: every SURVEY §2 operator as a named
                  query with a DuckDB oracle SQL twin; the Structured
                  Streaming restatements of the polling loops live in
                  plans/streaming_plans.py
"""

__version__ = "0.1.0"
