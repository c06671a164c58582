"""S1/S5 source+sink parity (SURVEY.md §2.1): ';'-delimited CSV scan
round-trips the reference's record-table shape; the presentation sink
exports one reviewable CSV file."""

import glob
import os

from record_linkage_ldu_spark.sources.io import (
    export_grouped_presentation_csv,
    export_presentation_csv,
    read_delimited_csv,
    write_bucketed,
)


def test_read_semicolon_csv(spark, tmp_path):
    p = tmp_path / "ldu.csv"
    p.write_text(
        "id;name;phone\n"
        "1;Acme Corp;555-0100\n"
        "2;Beta LLC;555-0101\n"
        "3;;\n"
    )
    df = read_delimited_csv(spark, str(p))
    assert df.columns == ["id", "name", "phone"]
    rows = {r["id"]: (r["name"], r["phone"]) for r in df.collect()}
    assert rows["1"] == ("Acme Corp", "555-0100")
    # empty cells -> NULL (the reference's NaN, SURVEY.md §1.1)
    assert rows["3"] == (None, None)
    # all-string schema: no inference scan, casts are explicit downstream
    assert all(t == "string" for _, t in df.dtypes)


def test_export_presentation_csv_single_file(spark, tmp_path):
    df = spark.createDataFrame(
        [("c1", "a1", "acme"), ("c1", "b1", "acme corp")],
        ["cluster_id", "doc_id", "name"],
    )
    out = str(tmp_path / "presentation")
    export_presentation_csv(df, out)
    parts = glob.glob(os.path.join(out, "part-*.csv"))
    assert len(parts) == 1  # one reviewable file (coalesce(1))
    text = open(parts[0]).read()
    assert text.splitlines()[0] == "cluster_id,doc_id,name"
    assert len(text.splitlines()) == 3


def test_export_grouped_csv_blank_separator_rows(spark, tmp_path):
    """The reference's workbook groups clusters with an all-empty row
    between them (main_ldu_hw.py:97-146); the grouped CSV export must
    emit members ordered within cluster and exactly one blank row
    after each cluster."""
    df = spark.createDataFrame(
        [
            ("c1", "a1", "acme"),
            ("c1", "b1", "acme corp"),
            ("c2", "a2", "beta"),
        ],
        ["cluster_id", "doc_id", "name"],
    )
    out = str(tmp_path / "grouped")
    export_grouped_presentation_csv(df, out)
    parts = glob.glob(os.path.join(out, "part-*.csv"))
    assert len(parts) == 1
    lines = open(parts[0]).read().splitlines()
    assert lines[0] == "cluster_id,doc_id,name"
    body = ['' if set(ln) <= {','} else ln for ln in lines[1:]]
    assert body == [
        "c1,a1,acme",
        "c1,b1,acme corp",
        "",
        "c2,a2,beta",
        "",
    ]


def test_bucketed_records_join_skips_record_shuffle(spark, tmp_path):
    """Co-located join path: a records table bucketed on doc_id must
    join WITHOUT an exchange on the records side — only the narrow
    pair-id side shuffles to the bucket count.  This is the 100TB
    shape for the pair side-attach joins (records never reshuffle)."""
    from pyspark.sql import functions as F

    records = spark.range(0, 10_000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("name"),
    )
    write_bucketed(
        records, "rl_test_bucketed", str(tmp_path / "bucketed"), buckets=8
    )
    try:
        tbl = spark.table("rl_test_bucketed")
        pairs = spark.range(0, 1_000).select(
            F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
            F.concat(F.lit("d"), F.col("id") + 1).alias("doc_id_2"),
        )
        # force the sort-merge path (a broadcast would hide the
        # bucketing; at 100TB neither side broadcasts)
        joined = tbl.hint("merge").join(pairs, "doc_id")
        assert len(joined.collect()) == 1_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # AQE prints final + initial sections; judge the FINAL plan
        if "== Initial Plan ==" in plan:
            plan = plan[: plan.index("== Initial Plan ==")]
        # exactly one shuffle: the pairs side.  The bucketed scan must
        # not sit under an Exchange.
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS rl_test_bucketed")


def test_run_linkage_cross_mode(spark, tiny_gen, tmp_path):
    """tools/run_linkage.py --input-right drives CrossLinkagePipeline
    end-to-end through a real subprocess (the spark-submit surface)."""
    import json
    import os
    import subprocess
    import sys

    from pyspark.sql import functions as F

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    docs = tiny_gen.select("doc_id", "spans")
    left_p = str(tmp_path / "left.parquet")
    right_p = str(tmp_path / "right.parquet")
    docs.where(F.col("doc_id").endswith("x0")).write.parquet(left_p)
    docs.where(~F.col("doc_id").endswith("x0")).write.parquet(right_p)

    out = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tools", "run_linkage.py"),
            "--master", "local[4]",
            "--input", left_p,
            "--input-right", right_p,
            "--output", str(tmp_path / "out"),
        ],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    report = json.loads(out.stdout[out.stdout.index("{"):])
    assert report["clusters"]["docs_in_multiple_clusters"] == 0
    clusters = spark.read.parquet(str(tmp_path / "out" / "clusters"))
    assert clusters.count() == docs.count()
    # matched docs really cluster across the two sources
    cross = (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 2)
        .count()
    )
    assert cross > 0


def test_cli_configs_use_pipeline_blocking_defaults():
    """Both CLIs build the pipeline's blocking defaults (windowed
    sorted-neighborhood on, sn: prefix key off) and change only
    max_block_size."""
    import argparse
    import importlib.util
    from dataclasses import replace

    from record_linkage_ldu_spark.plans.linkage import LinkageConfig

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    args = argparse.Namespace(max_block_size=77, cc_method="auto", no_jw=False)
    want = LinkageConfig().blocking
    for tool in ("run_linkage", "run_incremental"):
        spec = importlib.util.spec_from_file_location(
            tool, os.path.join(repo, "tools", f"{tool}.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        got = mod.linkage_config(args).blocking
        assert got.max_block_size == 77, tool
        assert replace(got, max_block_size=want.max_block_size) == want, tool
