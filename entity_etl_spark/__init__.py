"""entity_etl_spark — a PySpark-native incremental ETL / analytics engine.

Re-expresses the dataflow of ``signalfx/entity-etl`` (reference snapshot at
/root/reference, a Node.js incremental extract-transform-load cron pipeline)
as idiomatic Spark DataFrame operators, generalized to arbitrary tables, and
extends it with the large-scale training-data-pipeline operators (dedup,
similarity search, text analysis, multimodal columns).

Module map (see SURVEY.md §7.1):

- ``session``    — SparkSession factory with scale-appropriate defaults
- ``model``      — TableSpec / EngineConfig dataclasses
- ``mapping``    — projection-spec compiler (reference templates/*.hbs, O6-O9)
- ``delta``      — changed-row detection via content hash (reference
                   cache.js:69-85, O5)
- ``state``      — keyed state table with TTL upsert merge (cache.js:50-67,
                   O12/O13/O15)
- ``checkpoint`` — high-water-mark scalar rules (cache.js:99-119, O14)
- ``batch``      — sink batch assembly (app.js:95-107, O10)
- ``sources``    — table readers / catalog (app.js:71-82, O1/O2)
- ``sinks``      — parquet / JSON / HTTP-per-partition writers (app.js:88-112,
                   O11)
- ``pipeline``   — orchestration of one incremental run (app.js:13-60, EP1)
- ``streaming``  — Structured Streaming variant of the incremental pipeline
- ``ext``        — E1-E6 extension operators: dedup (exact/minhash/simhash/
                   jaccard), similarity top-k, text analysis, multimodal,
                   sketches
"""

__version__ = "0.1.0"
