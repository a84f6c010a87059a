"""mysql_time_machine_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Re-expresses the semantics of the mysql-time-machine platform
(reference: /root/reference/README.md:3 "creating, processing and storing
streams of MySQL data changes") as an idiomatic Spark pipeline:

  simulated binlog event stream
    -> event classification / filtering   (ops evidenced at CHANGES.txt:117,41-42)
    -> salted repartition on the row key  (salt spec: CHANGES.txt:102-104)
    -> per-key transaction reassembly + last-writer-wins collapse
       via a streaming Arrow-batched mapInPandas pass over JVM-sorted events
       (uuidBuffer analogue: CHANGES.txt:168-170)
    -> exactly-once fenced MERGE into a snapshot-versioned lake table
       (safe-checkpoint semantics: CHANGES.txt:3-7,37; HBase versioned
        puts -> table snapshots + time travel: README.md:18-19)

This is NOT a port: the reference is a hand-tuned Java pipeline; here the
logical plan is declared with the DataFrame API and Catalyst/Tungsten pick
the physical strategy. The only imperative kernels are Arrow-batched
pandas functions (never per-row Python).
"""

__version__ = "0.1.0"

from mysql_time_machine_spark.config import EngineConfig  # noqa: F401
