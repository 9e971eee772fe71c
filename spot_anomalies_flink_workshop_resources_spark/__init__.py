"""PySpark-native analytics engine with the query and data-processing
capabilities of aws-samples/spot-anomalies-flink-workshop-resources.

Brand-new Spark-first implementation (DataFrame / SQL / Catalyst /
Structured Streaming); the reference's semantics are documented in
SURVEY.md (repo root) and cited per-module as ``reference file:line``.

Layout:
    session     SparkSession builders tuned for local[32] and cluster use
    catalog     testdata table loading / temp-view registration
    schemas     Event / AttackResult StructTypes (reference Event.java:33-57)
    serde       tolerant JSON parse + epoch-second-double output contract
    operators/  detection (CEP batch oracle), dedup, simsearch, text, multimodal
    plans/      relational query surface exercised by the harness
    sources/    kafka/file readers, synthetic generators (S11-S13)
    streaming/  stateful streaming detector (W1-W6), sinks, pipeline builder
    ml/         IPInsights-style embedding trainer/scorer (M1-M3)
"""

__version__ = "0.1.0"
