"""Structured Streaming: the stateless text operators run unchanged on a
file-source stream."""

import shutil

from pyspark.sql import functions as F


def test_streaming_text_quality_matches_batch(spark):
    """The stateless text operators compose under readStream unchanged:
    the Gopher filter bundle over a documents stream equals the batch
    result row-for-row (codegen expressions are engine-side; no state,
    no watermark needed)."""
    import tempfile

    from vtcomposite_spark.functions import text as TX

    src = tempfile.mkdtemp(prefix="vtc_q_src_")
    out = tempfile.mkdtemp(prefix="vtc_q_out_")
    ckpt = tempfile.mkdtemp(prefix="vtc_q_ck_")
    try:
        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over a lazy dog " * 5),
             (2, "# # # # # #"), (3, "word " * 30)],
            "doc_id long, text string")
        docs.coalesce(1).write.mode("append").parquet(src)

        def bundle(df):
            cols = TX.gopher_filter_cols(F.col("text"), min_words=10)
            return df.select("doc_id", *[c.alias(n) for n, c in cols.items()])

        want = {tuple(r) for r in bundle(docs).collect()}
        stream = spark.readStream.schema("doc_id long, text string") \
            .parquet(src)
        q = (bundle(stream).writeStream.format("parquet")
             .option("path", out).outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        got = {tuple(r) for r in spark.read.parquet(out).collect()}
        assert got == want and want
    finally:
        for d in (src, out, ckpt):
            shutil.rmtree(d, ignore_errors=True)


