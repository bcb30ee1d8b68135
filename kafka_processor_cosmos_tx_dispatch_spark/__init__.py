"""PySpark tx router and the analytics engine around it.

A re-expression of the reference ``okp4/kafka-processor-cosmos-tx-dispatch``
(a Kafka Streams router that dispatches Cosmos-SDK transactions to topics
by JsonPath rules, TopologyProducer.kt) as one stateless Spark plan:
decode ``TxRaw`` bytes, evaluate an ordered rule bank once per record,
and multicast each record to its rule topics, to the DLQ or to the error
topic. The same plan builder runs in batch and in Structured Streaming.
Around the router sits a registry of analytics and data-curation queries
(joins, aggregations, windows, dedup, similarity search, text and graph
operators), each checked against a DuckDB oracle.

Package layout:
    session      — SparkSession factory
    rules        — YAML dispatch-rule loader (≅ TxsDispatch.kt)
    functions/   — jsonpath (rule compiler, two tiers), protowire and
                   descriptors (wire reader, generated decoders), pyworker
                   (Python-worker set-up), exprs (let-binding), text and
                   vectors (column-level text and vector functions)
    operators/   — decode (TxRaw → tx_json/error), dispatch (rule matches →
                   rule_idx/topic → per-topic value) and the analytics
                   operators (dedup, similarity, graph, sampling, …)
    sources/     — Kafka reader/writer builders, the synthetic tx source
                   and the parquet table loaders
    streaming/   — file-stream source, windowed, stateful and
                   incremental streaming operators
    sinks        — batch parquet layouts (partitioned, bucketed)
    queries/     — the registry of named queries with their DuckDB oracles
"""

__version__ = "0.1.0"
