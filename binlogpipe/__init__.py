"""binlogpipe — PySpark-native binlog-event parse → enrich → route →
aggregate pipeline (capabilities of PrivateRookie/boxercrab, Spark-first).

Public surface:
  job.run_pipeline        the full DAG with checkpoint/resume
  parse.with_header       JVM header decode + validation + sink routing
  parse.DECODERS          per-event-type payload decoders (arrow_udfs)
  route.routed_rows       the routed-row projection (header, pack, salt)
  route.routed            salted fan-out repartition
  enrich.table_map_dim / enrich_rows_events
  aggregate.sink_counts / source_type_stats / desc_report
  lineage.lineage_from_routed
  streaming.*             Structured Streaming variant
  textops / vecops / multimodal   training-data operators
"""

__version__ = "0.1.0"
