"""kafka_flow_spark — a PySpark-native engine with the query and data-processing
capabilities of evolution-gaming/kafka-flow (reference at /root/reference, read-only).

The reference is a Scala library for reliable per-key stateful processing of Kafka
records (see SURVEY.md).  This package re-expresses those semantics Spark-first:

- ``operators.fold`` / ``operators.tick``: the FoldOption/TickOption combinator
  surface (reference: core/.../Fold.scala, FoldOption.scala, Tick.scala).
- ``operators.keyed``: batch execution of per-key ordered folds as a sort-merge
  ``mapInPandas`` (reference hot path: core/.../FoldToState.scala).
- ``streaming.flow``: the streaming Flow API compiled to Structured Streaming
  with ``applyInPandasWithState`` (reference: core/.../KafkaFlow.scala poll loop + KeyFlow).
- ``persistence``: explicit snapshot/journal persistence modes
  (reference: persistence-cassandra/, persistence-kafka/).
- ``operators.dedup`` / ``operators.similarity`` / ``operators.text`` /
  ``operators.multimodal``: LLM-data-pipeline operators designed for
  100 TB-scale partition-parallel execution.
- ``plans``: the oracle-gated query library exposed through __spark_entry__.py.
"""

__version__ = "0.1.0"
