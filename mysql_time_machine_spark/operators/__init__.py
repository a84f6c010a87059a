from mysql_time_machine_spark.operators.reassemble import (  # noqa: F401
    collapse_events_sorted,
    collapse_events_sql,
    materialize,
)
