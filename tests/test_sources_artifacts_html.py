"""Text-directory source (S1-S3), artifact save/load (S10), HTML report (S6)."""

import os

from pyspark.sql import functions as F


def test_load_text_dir(spark, tmp_path):
    from flame_spark.sources import load_text_dir

    d = tmp_path / "corpus" / "sub"
    d.mkdir(parents=True)
    (tmp_path / "corpus" / "charter_1180.txt").write_text(
        "In nomine   sancte\net individue trinitatis amen " * 3, encoding="utf-8"
    )
    (d / "deed_1254.txt").write_text("Notum sit omnibus\tpresentibus " * 5)
    (d / "short.txt").write_text("too short")
    (d / "notes.md").write_text("wrong suffix, must be ignored")

    docs = load_text_dir(spark, str(tmp_path / "corpus"), min_text_length=30)
    rows = {r["name"]: r for r in docs.collect()}
    assert set(rows) == {"charter_1180.txt", "deed_1254.txt"}
    assert rows["charter_1180.txt"]["year"] == 1180
    assert rows["deed_1254.txt"]["year"] == 1254
    assert "  " not in rows["charter_1180.txt"]["text"]  # ws collapsed
    assert "\n" not in rows["charter_1180.txt"]["text"]
    # dense ids over sorted path
    assert sorted(r["doc_id"] for r in rows.values()) == [0, 1]


def test_artifacts_roundtrip(spark, tmp_path):
    from flame_spark.artifacts_io import load_artifacts, save_artifacts
    from flame_spark.config import FlameConfig
    from flame_spark.corpus import prepare_docs

    docs = spark.createDataFrame(
        [(0, "in nómine sancte et individue trinitatis amen dico " * 4),
         (1, "notum ſit omnibus presentibus et futuris salutem vero " * 4)],
        "doc_id long, text string",
    )
    cfg = FlameConfig(min_text_length=10, tokenizer="bpe", vocab_size=120)
    _, art = prepare_docs(docs, cfg)
    p = str(tmp_path / "artifacts.json")
    save_artifacts(art, p)
    art2 = load_artifacts(p)
    assert art2.encoder == art.encoder
    assert art2.norm.learned_rules == art.norm.learned_rules
    text = "in nómine ſancte"
    assert art2.norm.normalize(text) == art.norm.normalize(text)
    assert art2.bpe.encode("nomine sancte") == art.bpe.encode("nomine sancte")


def test_render_comparison_html(spark, tmp_path):
    from flame_spark.reports import render_comparison_html

    docs = spark.createDataFrame(
        [
            (0, "in nomine sancte et individue trinitatis amen dico vobis gratia"),
            (1, "in nomine sanctae et individue trinitatis amen dico vobis gratia"),
            (2, "unrelated text entirely about distributed query engines"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 1, 0.91), (0, 2, 0.02)], "doc_i long, doc_j long, score double"
    )
    files = render_comparison_html(pairs, docs, threshold=0.5, out_dir=str(tmp_path))
    assert len(files) == 1
    html = open(files[0], encoding="utf-8").read()
    assert html.count('class="pair"') == 1  # only the surviving pair
    assert 'class="highlight"' in html and "score 0.9100" in html
    assert "trinitatis amen dico vobis gratia" in html


def test_html_chunking(spark, tmp_path):
    from flame_spark.reports import render_comparison_html

    long_text = "alpha beta gamma delta epsilon zeta " * 200
    docs = spark.createDataFrame(
        [(i, long_text) for i in range(12)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(i, j, 0.99) for i in range(12) for j in range(i + 1, 12)],
        "doc_i long, doc_j long, score double",
    )
    files = render_comparison_html(
        pairs, docs, threshold=0.5, out_dir=str(tmp_path), max_file_size=200_000
    )
    assert len(files) > 1  # chunked
    total_pairs = sum(
        open(f, encoding="utf-8").read().count('class="pair"') for f in files
    )
    assert total_pairs == 66


def test_cli_inter_mode_rectangular(tmp_path):
    """--input_path2 must produce ONLY cross-corpus pairs (the reference
    computes matrix1 x matrix2^T, flame.py:793-801) — no same-corpus
    pairs, no diagonal. Runs the real CLI in a subprocess."""
    import subprocess
    import sys

    import duckdb

    d1 = tmp_path / "c1"
    d2 = tmp_path / "c2"
    d1.mkdir()
    d2.mkdir()
    shared = "in nomine sancte et individue trinitatis amen dico vobis "
    (d1 / "a.txt").write_text(shared * 4 + "unus duo tres quattuor " * 3)
    (d1 / "b.txt").write_text("notum sit omnibus presentibus et futuris " * 6)
    (d2 / "x.txt").write_text(shared * 4 + "quinque sex septem octo " * 3)
    (d2 / "y.txt").write_text("salutem dico gratiam plenam vobis hodie " * 6)
    out = tmp_path / "out"
    r = subprocess.run(
        [
            sys.executable, "-m", "flame_spark",
            "--input_path", str(d1), "--input_path2", str(d2),
            "--ngram", "3", "--min_text_length", "40",
            "--vocab_size", "300", "--no_reports",
            "--output_dir", str(out), "--cpus", "2",
        ],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))), capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "inter-comparison mode" in r.stdout
    rows = duckdb.sql(
        f"SELECT doc_i, doc_j, score FROM '{out}/sim_pairs.parquet/*.parquet'"
    ).fetchall()
    assert rows  # the planted shared passage must produce pairs
    n1 = 2  # corpus1 has two docs: ids 0,1; corpus2 ids 2,3
    for doc_i, doc_j, score in rows:
        assert doc_i < n1 <= doc_j, (doc_i, doc_j)
        assert 0.0 < score <= 1.0 + 1e-12
    # the shared-passage pair must be the strongest
    best = max(rows, key=lambda t: t[2])
    assert (best[0], best[1]) == (0, 2)
