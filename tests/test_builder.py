"""Build pipeline: stats, skew splitting, metrics, resumability
(FIXTURES.md §5/§6.3/§6.5)."""

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from emailindexer_spark.plans.builder import IndexBuilder
from emailindexer_spark.sources.checkpoint import Manifest


def test_stats_match_oracle(index_dir, oracle_ix):
    man = Manifest.load_or_create(index_dir)
    assert man.stats["n_docs"] == oracle_ix.n_docs
    assert man.stats["total_tokens"] / man.stats["n_docs"] == pytest.approx(oracle_ix.avgdl)


def test_heavy_terms_are_split(spark, index_dir):
    p = spark.read.parquet(os.path.join(index_dir, "postings"))
    splits = p.where(F.col("split_id") > 0)
    assert splits.count() > 1  # FIXTURES.md §6.5: >1 skew split
    # splits of one term cover disjoint, ordered doc ranges
    rows = (
        p.where(F.col("split_id") >= 0)
        .groupBy("term")
        .agg(F.count("*").alias("n"), F.collect_list(F.struct("split_id", "first_doc", "last_doc")).alias("s"))
        .where(F.col("n") > 1)
        .limit(5)
        .collect()
    )
    assert rows
    for r in rows:
        parts = sorted(r["s"], key=lambda x: x["split_id"])
        for a, b in zip(parts, parts[1:]):
            assert a["last_doc"] < b["first_doc"]


def test_build_metrics_lineage(spark, index_dir):
    m = spark.read.parquet(os.path.join(index_dir, "build_metrics"))
    man = Manifest.load_or_create(index_dir)
    tot = m.agg(F.sum("postings_written"), F.sum("skew_splits")).collect()[0]
    assert tot[0] == man.stats["postings_written"] > 0
    assert tot[1] == man.stats["skew_splits"] > 1
    assert m.select("snapshot_id").distinct().count() == 1


def test_partition_pruning_layout(spark, index_dir):
    # postings are physically partitioned by part=md5(term)%P
    assert glob.glob(os.path.join(index_dir, "postings", "part=*"))


def _postings_payloads(spark, d):
    cols = ("b_docs", "b_tfs", "b_norms", "b_pos")
    rows = (
        spark.read.parquet(os.path.join(d, "postings"))
        .select("term", "split_id", "b_first", *cols)
        .collect()
    )
    return sorted(
        (r["term"], r["split_id"], tuple(r["b_first"]))
        + tuple(tuple(map(bytes, r[c])) for c in cols)
        for r in rows
    )


@pytest.mark.slow
def test_kill_and_resume_byte_identical(spark, corpus_sdf, index_dir):
    d = tempfile.mkdtemp(prefix="ix_resume_")
    try:
        b = IndexBuilder(spark, d, num_parts=8, heavy_df_threshold=500, split_target=400)
        # phase 1: run the full build, then simulate a crash AFTER doc_stats
        # by deleting the postings + metrics stages and their ledger entries
        b.build(corpus_sdf)
        man = Manifest.load_or_create(d)
        for st in ("postings", "build_metrics"):
            shutil.rmtree(os.path.join(d, st))
            man.stages.pop(st)
        man._flush()
        # phase 2: resume must NOT rebuild doc_index/doc_stats, and must
        # reproduce byte-identical postings payloads
        b.build(corpus_sdf, resume=True)
        assert _postings_payloads(spark, d) == _postings_payloads(spark, index_dir)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_payload_invariant_to_input_partitioning(spark, corpus_sdf, index_dir):
    d = tempfile.mkdtemp(prefix="ix_repart_")
    try:
        IndexBuilder(
            spark, d, num_parts=8, heavy_df_threshold=500, split_target=400
        ).build(corpus_sdf.repartition(17))
        assert _postings_payloads(spark, d) == _postings_payloads(spark, index_dir)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_param_mismatch_rejected(spark, corpus_sdf, index_dir):
    with pytest.raises(ValueError):
        IndexBuilder(spark, index_dir, num_parts=4).build(corpus_sdf, resume=True)


def test_doc_index_carries_exact_dl_and_norm(spark, index_dir, corpus_pdf):
    # dl/norm are JVM column expressions (Java regex + arithmetic
    # SmallFloat); they must equal the Python tokenizer + codec exactly
    from emailindexer_spark.functions.smallfloat import int_to_byte4
    from emailindexer_spark.functions.tokenizer import tokenize

    rows = (
        spark.read.parquet(os.path.join(index_dir, "doc_index"))
        .select("doc_id", "text", "dl", "norm")
        .limit(500)
        .collect()
    )
    assert rows
    for r in rows:
        dl = len(tokenize(r["text"]))
        assert r["dl"] == dl, (r["doc_id"], r["dl"], dl)
        assert r["norm"] == int_to_byte4(dl)


def test_term_dict_matches_postings(spark, index_dir):
    p = spark.read.parquet(os.path.join(index_dir, "postings"))
    td = spark.read.parquet(os.path.join(index_dir, "term_dict"))
    exp = {
        (r["term"], r["part"]): r["df"]
        for r in p.groupBy("term", "part").agg(F.sum("df_row").alias("df")).collect()
    }
    got = {(r["term"], r["part"]): r["df"] for r in td.collect()}
    assert got == exp


def test_prefix_plan_prunes_postings_partitions(spark, index_dir):
    from emailindexer_spark.plans.parser import Prefix
    from emailindexer_spark.plans.planner import SearchEngine

    eng = SearchEngine(spark, index_dir)
    assert eng.term_dict is not None
    node = Prefix(prefix="t")
    df = eng._leaf_df(node, {})
    plan = df._jdf.queryExecution().toString()
    # the postings scan must carry a partition filter (part IN ...), i.e.
    # only term_dict-matched part= directories are read for a prefix
    assert "PartitionFilters" in plan
    import re as _re

    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln and "part#" in ln]
    assert pf and _re.search(r"part#\d+L? IN \(", pf[0]), pf
    # and the result equals the dictionary-less full-scan path
    from emailindexer_spark.plans.planner import _decode_docs_only

    full = eng.postings.where(F.col("term").startswith("t"))
    exp = {
        r["doc_id"]
        for r in full.mapInPandas(_decode_docs_only(), "doc_id long").distinct().collect()
    }
    got = {r["doc_id"] for r in df.select("doc_id").collect()}
    assert got == exp and got


def test_fuzzy_and_wildcard_plans_prune_partitions(spark, index_dir):
    from emailindexer_spark.plans.parser import Fuzzy, Wildcard
    from emailindexer_spark.plans.planner import SearchEngine

    eng = SearchEngine(spark, index_dir)
    base = eng.term_dict.orderBy("term").first()["term"]

    # fuzzy: expansion resolves concrete terms, so the postings scan must
    # carry a part IN (...) partition filter like any term lookup
    df = eng._leaf_df(Fuzzy(text=base, max_edits=1), {})
    assert df is not None
    plan = df._jdf.queryExecution().toString()
    import re as _re

    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln and "part#" in ln]
    # a single-expansion fuzzy collapses IN (...) to an equality filter
    assert pf and _re.search(r"part#\d+L? (IN \(|= )", pf[0]), plan
    # blended-freq scoring reads tf/norm payloads — but never positions
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "b_docs" in ln]
    assert rs and "b_tfs" in rs[0] and "b_norms" in rs[0] and "b_pos" not in rs[0], rs
    assert df.count() > 0

    # wildcard with a literal prefix: term_dict-driven partition pruning
    w = Wildcard(pattern=base[:1] + "?" + base[2:] if len(base) > 2 else base + "*")
    dfw = eng._leaf_df(w, {})
    assert dfw is not None
    planw = dfw._jdf.queryExecution().toString()
    pfw = [ln for ln in planw.splitlines() if "PartitionFilters" in ln and "part#" in ln]
    assert pfw and _re.search(r"part#\d+L? (IN \(|= )", pfw[0]), planw
    assert dfw.count() > 0


def test_load_transcripts_jsonl_and_csv(spark, tmp_path):
    from emailindexer_spark.sources.fixtures import make_transcripts
    from emailindexer_spark.sources.transcripts import load_transcripts

    pdf = make_transcripts(200, seed=3)
    jl = str(tmp_path / "t.jsonl")
    pdf.to_json(jl, orient="records", lines=True, date_format="iso")
    got = load_transcripts(spark, jl)
    assert got.count() == len(pdf)
    assert dict(got.dtypes)["ts"] == "timestamp"
    cv = str(tmp_path / "t.csv")
    pdf.to_csv(cv, index=False)
    got_csv = load_transcripts(spark, cv)
    assert got_csv.count() == len(pdf)
    # same (conv_id, turn_idx, text) content through both formats
    a = {(r["conv_id"], r["turn_idx"], r["text"]) for r in got.collect()}
    b = {(r["conv_id"], r["turn_idx"], r["text"]) for r in got_csv.collect()}
    assert a == b
