"""Record the small event log ``test_eventlog.py`` parses.

    python3 perfbench/tests/record_eventlog.py

Runs three tiny queries under job groups, with Spark's event log on, and
writes the log to ``perfbench/tests/data/small_eventlog.json``:

* ``t|udf|0|exec`` — 1000 rows through a pandas UDF, a filter keeping
  the 250 rows whose id is divisible by 4, and the UDF again for the
  projected column of those 250;
* ``t|sort|0|exec`` — a global sort of 1000 rows;
* ``t|plain|0|plan`` — a count with no Python and no sort.
"""

import glob
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "data", "small_eventlog.json")


def main() -> int:
    tmp = tempfile.mkdtemp(prefix="eventlog-", dir=os.getcwd())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{tmp} "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false pyspark-shell")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[2]").appName("record")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .getOrCreate())
    sc = spark.sparkContext

    @F.pandas_udf("long")
    def quarter(x):
        return x % 4

    try:
        sc.setJobGroup("t|udf|0|exec", "udf")
        (spark.range(1000).repartition(2)
         .withColumn("q", quarter("id")).filter("q = 0")
         .write.format("noop").mode("overwrite").save())
        sc.setJobGroup("t|sort|0|exec", "sort")
        (spark.range(1000).withColumn("k", (F.col("id") * 7) % 13)
         .orderBy("k").write.format("noop").mode("overwrite").save())
        sc.setJobGroup("t|plain|0|plan", "plain")
        spark.range(100).count()
    finally:
        spark.stop()
    logs = [p for p in glob.glob(os.path.join(tmp, "*"))
            if not os.path.basename(p).startswith(".")]
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    shutil.copy(logs[0], OUT)
    shutil.rmtree(tmp)
    print(f"wrote {OUT}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
