"""Physical plans of geo_pipeline's two spatial calls, ids stripped.

Run from the root of the checkout under test, naming this script by
its path (the files land beside it, so one copy serves two checkouts):

    PYTHONPATH=. python <path to this script> <tag>

It builds the geo_pipeline geocode table (perfbench seed 1) once under
/tmp/edk_plan_capture, then writes ``explain("formatted")`` of
``pip_join(..., res=7)`` and of the final pass of
``knn_join(..., res=5, ring=4, auto_grow=True, max_ring=64)`` to
``{pip_join,knn_join_final}_<tag>.txt`` beside this script.  Expression ids
(``#123``) and the session counters ``plan_id=123`` and ``RDD[123]``
(which differ between two runs of the same commit) are stripped, so the files of
two commits compare with ``diff``.  Prints the number of auto-grow
rounds (probe scalars collected) of the kNN call.
"""

import contextlib
import io
import re
import sys
from pathlib import Path

sys.path.insert(0, "perfbench")

import gen  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from earth_data_kit_spark.functions.columns import cell_id_col  # noqa: E402
from earth_data_kit_spark.functions.udfs import extract_geocode_udf  # noqa: E402
from earth_data_kit_spark.operators import spatial_join as sj  # noqa: E402
from earth_data_kit_spark.operators.knn import knn_join  # noqa: E402
from earth_data_kit_spark.operators.spatial_join_s2 import s2_leaf_udf  # noqa: E402
from earth_data_kit_spark.session import get_spark  # noqa: E402

tag = sys.argv[1]
spark = get_spark(cpus=2)
data = Path("/tmp/edk_plan_capture")
if not (data / "geocode").exists():
    cols = gen.pages(1)["columns"]
    cols = dict(cols, warc_ts=pa.array(cols["warc_ts"] * 1_000_000, pa.timestamp("us", tz="UTC")))
    (data / "pages").mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(cols), data / "pages" / "part-0000.parquet")
    (
        spark.read.parquet(str(data / "pages"))
        .select("page_id", "url", "part", extract_geocode_udf(F.col("html"), F.col("url")).alias("g"))
        .select("page_id", "url", "part", F.col("g.lat").alias("lat"),
                F.col("g.lon").alias("lon"), F.col("g.method").alias("method"))
        .where(F.col("lat").isNotNull())
        .withColumn("cell", cell_id_col(F.col("lon"), F.col("lat"), 7))
        .withColumn("s2_leaf", s2_leaf_udf()(F.col("lon"), F.col("lat")))
        .write.parquet(str(data / "geocode"))
    )
geocoded = spark.read.parquet(str(data / "geocode"))
q = gen.pipeline_queries(1)
polys = [sj.Polygon(code=c, name=c, bbox=b) for c, b in q["boxes"]]

rounds = 0
frame = type(geocoded)
first = frame.first


def counted_first(self, *a, **kw):
    global rounds
    rounds += 1
    return first(self, *a, **kw)


def plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    txt = re.sub(r"#\d+", "", buf.getvalue())
    return re.sub(r"RDD\[\d+\]", "RDD", re.sub(r"plan_id=\d+", "plan_id", txt))


frame.first = counted_first
out = Path(__file__).resolve().parent
(out / f"pip_join_{tag}.txt").write_text(plan(sj.pip_join(geocoded, polys, res=7)))
knn = knn_join(geocoded, q["queries"], k=q["k"], res=5, ring=4, id_col="page_id",
               auto_grow=True, max_ring=64)
(out / f"knn_join_final_{tag}.txt").write_text(plan(knn))
print(f"knn_join auto-grow rounds: {rounds}")
