import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def test_stateful_conversation_state(spark, tmp_path):
    from pyspark.sql import functions as F
    from flame_spark.data import transcripts_df
    from flame_spark.streaming import run_conversation_state_once

    full = transcripts_df(spark, 6, 8).persist()
    # split EACH conversation across two files so state must carry over
    p1 = full.filter(F.col("turn_idx") < 3)
    p2 = full.filter(F.col("turn_idx") >= 3)
    d = tmp_path / "in"; d.mkdir()
    p1.coalesce(1).write.mode("overwrite").parquet(str(d / "f1.parquet"))
    p2.coalesce(1).write.mode("overwrite").parquet(str(d / "f2.parquet"))

    rows, n_batches = run_conversation_state_once(spark, str(d / "*"))
    assert n_batches >= 2  # really processed multiple microbatches
    # final (max) emission per conversation == batch ground truth
    final = {}
    for r in rows:
        cur = final.get(r["conv_id"])
        if cur is None or r["n_turns"] > cur[0]:
            final[r["conv_id"]] = (r["n_turns"], r["n_chars"], r["max_turn_idx"])
    truth = {
        r["conv_id"]: (r["n"], r["ch"], r["mt"])
        for r in full.groupBy("conv_id").agg(
            F.count("*").alias("n"),
            F.sum(F.length(F.coalesce("text", F.lit("")))).alias("ch"),
            F.max("turn_idx").alias("mt"),
        ).collect()
    }
    assert final == truth
    # statefulness evidence: some conversation emitted more than once
    from collections import Counter
    c = Counter(r["conv_id"] for r in rows)
    assert max(c.values()) >= 2
    full.unpersist()


def test_percolate_stream_matches_batch_contract(spark, tmp_path):
    """Streaming percolation == the batch percolate contract on the
    same data (brute-force replay), across multiple microbatches, pure
    append (each match emitted exactly once)."""
    import re

    from pyspark.sql import functions as F
    from flame_spark.data import transcripts_df
    from flame_spark.streaming import run_percolate_stream_once

    full = transcripts_df(spark, 8, 6).persist()
    d = tmp_path / "in"; d.mkdir()
    p1 = full.filter(F.col("turn_idx") < 3)
    p2 = full.filter(F.col("turn_idx") >= 3)
    p1.coalesce(1).write.mode("overwrite").parquet(str(d / "f1.parquet"))
    p2.coalesce(1).write.mode("overwrite").parquet(str(d / "f2.parquet"))

    stored = [
        {"query_id": "r0", "must": ["nomine"], "must_not": ["zzzqqq"]},
        {"query_id": "r1", "should": ["amen", "trinitatis"], "min_should": 2},
        {"query_id": "rz", "must": ["zzzqqq"]},
    ]
    rows, n_batches = run_percolate_stream_once(spark, str(d / "*"), stored)
    assert n_batches >= 2
    got = {(r["query_id"], r["conv_id"], r["turn_idx"]) for r in rows}
    assert len(got) == len(rows)  # pure append: no duplicate alerts

    def toks(t):
        return set(x for x in re.split(r"[^a-z0-9]+", (t or "").lower()) if x)

    exp = set()
    for r in full.collect():
        dt = toks(r["text"])
        for q in stored:
            must = set(q.get("must") or [])
            should = q.get("should") or []
            mn = set(q.get("must_not") or [])
            ms = q.get("min_should", 0 if must else 1)
            if (must <= dt and len(dt & set(should)) >= ms
                    and not (dt & mn)):
                exp.add((q["query_id"], r["conv_id"], r["turn_idx"]))
    assert got == exp
    assert any(k[0] == "r0" for k in got)  # the formulaic term fires
    assert not any(k[0] == "rz" for k in got)
    full.unpersist()


def test_percolate_stream_empty_registry_is_silent(spark, tmp_path):
    """All rules retired: the alert stream runs and emits nothing
    (the batch path's empty-result contract, not a crash)."""
    from pyspark.sql import functions as F
    from flame_spark.data import transcripts_df
    from flame_spark.streaming import run_percolate_stream_once

    full = transcripts_df(spark, 3, 4)
    d = tmp_path / "in"; d.mkdir()
    full.coalesce(1).write.mode("overwrite").parquet(str(d / "f1.parquet"))
    rows, _n = run_percolate_stream_once(spark, str(d / "*"), [])
    assert rows == []
