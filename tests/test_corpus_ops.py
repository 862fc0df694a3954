"""Corpus-construction ops (ocr_spark/operators/corpus_ops.py): sampling,
decontamination, sequence packing, unigram-LM surprisal.  The driver oracle
rows (sample_deterministic / decontaminate / pack_sequences /
unigram_logprob) carry the cross-engine equality; these tests pin the
SEMANTICS on handpicked inputs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.corpus_ops import (
    decontaminate,
    deterministic_sample,
    pack_sequences,
    sample_bucket,
    unigram_logprob,
)


def test_deterministic_sample_is_content_keyed(spark):
    """The sample must be a function of CONTENT only: reshuffling ids or
    partitioning selects the same documents; rates are ~proportional."""
    rows = [(i, f"document number {i} with some words") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["text"] for r in deterministic_sample(df, keep_pct=25).collect()}
    # re-keyed + reordered + repartitioned copy selects the SAME texts
    df2 = (
        spark.createDataFrame([(i + 1000, t) for i, t in reversed(rows)],
                              "doc_id long, text string")
        .repartition(7)
    )
    kept2 = {r["text"] for r in deterministic_sample(df2, keep_pct=25).collect()}
    assert kept == kept2
    assert 0.15 < len(kept) / 400 < 0.35  # md5 buckets ~uniform
    # buckets partition the corpus: pct=100 keeps everything
    assert deterministic_sample(df, keep_pct=100).count() == 400


def test_sample_bucket_range(spark):
    df = spark.createDataFrame([(f"t{i}",) for i in range(200)], "text string")
    rng = df.select(F.min(sample_bucket(F.col("text"))).alias("lo"),
                    F.max(sample_bucket(F.col("text"))).alias("hi")).first()
    assert 0 <= rng["lo"] and rng["hi"] <= 99


def test_decontaminate_flags_overlap(spark):
    bench_text = " ".join(f"w{i}" for i in range(20))
    corpus = spark.createDataFrame(
        [
            (1, bench_text),                                   # exact copy
            (2, "prefix " + " ".join(f"w{i}" for i in range(13))),  # shares one 13-gram
            (3, " ".join(f"z{i}" for i in range(30))),         # disjoint
            (4, ""),                                           # empty
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    got = {
        r["doc_id"]: (r["contaminated"], r["n_matched_grams"])
        for r in decontaminate(corpus, bench, n=13).collect()
    }
    assert got[1] == (True, 8)   # 20 - 13 + 1 shared 13-grams
    assert got[2] == (True, 1)
    assert got[3] == (False, 0)
    assert got[4] == (False, 0)


def test_top_ngram_repetition_signal(spark):
    """Gopher repetition removal: template spam (one phrase repeated) gets
    a high most-common-2-gram ratio; prose stays low; short/empty texts
    are zeros."""
    from ocr_spark.operators.corpus_ops import top_ngram_stats

    rows = [
        (1, "buy now " * 20),                       # 'now buy'/'buy now' dominate
        (2, "the quick brown fox jumps over the lazy dog near the old barn"),
        (3, "word"),                                 # < n tokens: no gram
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["top_gram_count"], r["top_gram_ratio"])
        for r in top_ngram_stats(df, n=2).collect()
    }
    # doc 1: 40 tokens, 'buy now' occurs 20x -> ratio 20*2/40 = 1.0
    assert got[1] == (20, 1.0)
    assert got[2][0] == 1 and got[2][1] == round(2 / 13, 6)  # 13 tokens
    assert got[3] == (0, 0.0)
    assert got[4] == (0, 0.0)


def test_bench_queries_all_exist():
    """Every bench.py query key must resolve in the driver contract —
    a renamed query must fail HERE, not mid-bench."""
    import sys

    sys.path.insert(0, ".")
    import __spark_entry__ as entry_mod
    import bench

    qs = entry_mod.queries()
    missing = [k for k in bench.BENCH_QUERIES if k not in qs]
    assert not missing, missing


def test_pack_sequences_offsets_and_bins(spark):
    rows = [(i, " ".join(["tok"] * n)) for i, n in enumerate([5, 7, 3, 0, 10, 2])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["start_tok"], r["seq_no"])
        for r in pack_sequences(df, token_budget=8).collect()
    }
    # cumulative starts: 0, 5, 12, 15, 15, 25 (empty doc consumes 0)
    assert got == {
        0: (5, 0, 0), 1: (7, 5, 0), 2: (3, 12, 1),
        3: (0, 15, 1), 4: (10, 15, 1), 5: (2, 25, 3),
    }


def test_pack_sequences_chunked_prefix_sum_matches_global(spark):
    """The two-level prefix sum (chunk subtotals + within-chunk window)
    must equal a plain global cumsum — with ids spanning many chunks."""
    import random

    rnd = random.Random(5)
    rows = [(i * 997, " ".join(["x"] * rnd.randint(0, 20))) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["start_tok"]
        for r in pack_sequences(df, token_budget=64, chunk=512).collect()
    }
    acc = 0
    for i, text in sorted(rows):
        assert got[i] == acc, i
        acc += len(text.split())


def test_unigram_logprob_matches_hand_model(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, "")], "doc_id long, text string"
    )
    # corpus: a:2 b:2 c:1 -> n_total=5, v=3
    def mn(c):
        return round(-math.log((c + 1) / (5 + 3)) * 1e6)

    got = {
        r["doc_id"]: (r["n_words"], r["surprisal_micronats"])
        for r in unigram_logprob(df).collect()
    }
    assert got[1] == (3, 2 * mn(2) + mn(2))
    assert got[2] == (2, mn(2) + mn(1))
    assert got[3] == (0, 0)
    # junk (rare words) scores HIGHER surprisal per token than common text
    big = spark.createDataFrame(
        [(i, "the common phrase repeats here") for i in range(20)]
        + [(99, "zzyqx vrbnk qqpwm xxyzj lkjhg")],
        "doc_id long, text string",
    )
    per_tok = {
        r["doc_id"]: r["surprisal_micronats"] / max(r["n_words"], 1)
        for r in unigram_logprob(big).collect()
    }
    assert per_tok[99] > per_tok[0]


def test_decontaminate_plan_broadcasts_benchmark(spark):
    """The benchmark gram set must broadcast — the corpus side of the
    contamination join may never shuffle (at 100 TB the corpus is the big
    side; a sort-merge join here would shuffle every corpus gram)."""
    corpus = spark.createDataFrame(
        [(i, "some words repeated here " * 4) for i in range(50)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "eval set text"), (1, "some words repeated")], "doc_id long, text string"
    )
    plan = (
        decontaminate(corpus, bench, n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    # the only exchanges allowed touch the benchmark/aggregation side, not
    # a corpus-gram sort-merge join
    assert "SortMergeJoin" not in plan
    # a benchmark sharing no gram with the corpus probes an empty hit set,
    # which becomes an empty local relation: the planner drops the join
    clean = spark.createDataFrame([(0, "eval set text")], "doc_id long, text string")
    plan = (
        decontaminate(corpus, clean, n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan and "Exchange" not in plan


def test_corpus_filter_decontamination_stage(spark):
    """benchmark= drops contaminated docs with their own audit reason; the
    first-failing-stage ordering puts rules before contamination."""
    from ocr_spark.operators.corpus_filter import corpus_filter

    bench_text = " ".join(f"w{i}" for i in range(20)) + " the cat is on the mat and all is well today with everyone here"
    clean = "the dog sits by the door and waits for the mail to arrive every single morning again"
    rows = [
        (1, clean),            # kept
        (2, bench_text),       # contaminated (shares 13-grams with benchmark)
        (3, "x"),              # too_short (rules fire before decontamination)
        (4, clean),            # exact duplicate of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    kept, audit = corpus_filter(df, rules={"min_chars": 10}, benchmark=bench)
    fates = {r["doc_id"]: r["reason"] for r in audit.collect()}
    assert fates == {1: "kept", 2: "contaminated", 3: "too_short", 4: "duplicate"}
    assert sorted(r["doc_id"] for r in kept.collect()) == [1]


def test_pack_sequences_plan_has_no_global_window(spark):
    """The big-side window must be PARTITIONED (parallel); only the tiny
    SUPERCHUNK-totals relation (n/chunk^2 rows — bounded at any corpus
    size) may see an unpartitioned window."""
    df = spark.createDataFrame(
        [(i, "a b c") for i in range(100)], "doc_id long, text string"
    )
    plan = (
        pack_sequences(df, token_budget=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # exactly one single-partition exchange (the superchunk-totals
    # window); partitioned windows over _super (chunk bases) and _chunk
    # (per-doc offsets)
    assert plan.count("SinglePartition") == 1
    assert "hashpartitioning(_chunk" in plan
    assert "hashpartitioning(_super" in plan


def test_pack_sequences_three_level_spans_superchunks(spark):
    """With chunk=4, 300 ids span ~75 chunks and ~19 superchunks — the
    three-level recombination (super base + within-super chunk prefix +
    within-chunk doc prefix) must still equal a plain global cumsum."""
    import random

    rnd = random.Random(11)
    rows = [(i, " ".join(["x"] * rnd.randint(0, 9))) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["start_tok"]
        for r in pack_sequences(df, token_budget=16, chunk=4).collect()
    }
    acc = 0
    for i, text in sorted(rows):
        assert got[i] == acc, i
        acc += len(text.split())


def test_decontaminate_pathological_benchmark_falls_back(spark):
    """A benchmark that contaminates EVERY corpus doc makes `hits`
    corpus-scale; the guarded broadcast must detect this and complete via
    the shuffle-join fallback with identical results."""
    shared = " ".join(f"w{i}" for i in range(15))
    corpus = spark.createDataFrame(
        [(i, shared) for i in range(40)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(0, shared)], "doc_id long, text string")
    out = decontaminate(corpus, bench, n=13, max_broadcast_hits=5)
    got = {r["doc_id"]: r["contaminated"] for r in out.collect()}
    assert got == {i: True for i in range(40)}
    # and the fallback plan really did not broadcast the hits relation on
    # the per-doc join (the gram join still broadcasts the benchmark side)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


# ---------------------------------------------------------------------------
# line-level cleanup + PII + mixture (round 4)
# ---------------------------------------------------------------------------
def test_redact_pii_semantics(spark):
    from ocr_spark.operators.pii import redact_pii

    rows = [
        (1, "Contact me at john.doe+x@example.co.uk or admin@sub.host.org."),
        (2, "Served from 192.168.1.1 and 10.0.0.255 today"),
        (3, "Call +1 415-555-2671 now"),
        (4, "no pii, just an @ sign and 1.2 numbers"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert (got[1]["n_emails"], got[1]["n_ipv4"], got[1]["n_phones"]) == (2, 0, 0)
    assert got[1]["text_redacted"] == "Contact me at <EMAIL> or <EMAIL>."
    assert (got[2]["n_emails"], got[2]["n_ipv4"]) == (0, 2)
    assert got[2]["text_redacted"] == "Served from <IP> and <IP> today"
    assert got[3]["n_phones"] == 1
    assert got[3]["text_redacted"] == "Call <PHONE> now"
    assert got[4]["text_redacted"] == rows[3][1]
    assert got[5]["text_redacted"] == ""


def test_redact_pii_plan_is_pure_projection(spark):
    """The whole stage must be JVM regexp expressions inside the scan stage:
    no shuffle, no Python evaluator of any kind."""
    from ocr_spark.operators.pii import redact_pii

    df = spark.createDataFrame([(1, "a@b.co")], "doc_id long, text string")
    plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan


def test_remove_boilerplate_lines_semantics(spark):
    from ocr_spark.operators.corpus_ops import remove_boilerplate_lines

    footer = "(c) 2025 example.com"
    rows = [(i, f"{footer}\nbody line {i}\n\nmore {i}") for i in range(5)]
    rows.append((5, footer))             # all-boilerplate doc -> empty clean
    rows.append((6, "unique\nsolo doc"))  # untouched
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in remove_boilerplate_lines(df, min_doc_freq=5).collect()}
    for i in range(5):
        # the footer AND the blank separator both sit in 5 docs -> both hot
        assert got[i]["text_clean"] == f"body line {i}\nmore {i}"
        assert (got[i]["n_lines"], got[i]["n_removed"]) == (4, 2)
    assert got[5]["text_clean"] == "" and got[5]["n_removed"] == 1
    assert got[6]["text_clean"] == "unique\nsolo doc" and got[6]["n_removed"] == 0


def test_remove_boilerplate_pathological_falls_back(spark):
    """A corpus where EVERY line is hot makes the hot set corpus-scale; the
    guarded broadcast must detect this and complete via the shuffle-join
    fallback with identical results."""
    from ocr_spark.operators.corpus_ops import remove_boilerplate_lines

    df = spark.createDataFrame(
        [(i, "same line\nother shared") for i in range(30)],
        "doc_id long, text string",
    )
    out = remove_boilerplate_lines(df, min_doc_freq=5, max_broadcast_lines=1)
    rows = out.collect()
    assert all(r["text_clean"] == "" and r["n_removed"] == 2 for r in rows)
    assert len(rows) == 30


def test_dedup_doc_lines_keeps_first_occurrence_order(spark):
    from ocr_spark.operators.corpus_ops import dedup_doc_lines

    df = spark.createDataFrame(
        [(1, "b\na\nb\nc\na"), (2, ""), (3, "x")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in dedup_doc_lines(df).collect()}
    assert got[1]["text_dedup"] == "b\na\nc"
    assert (got[1]["n_lines"], got[1]["n_dup_lines"]) == (5, 2)
    assert got[2]["text_dedup"] == "" and got[2]["n_lines"] == 1
    assert got[3]["n_dup_lines"] == 0
    # zero shuffle, zero Python: the op is a scan-stage projection
    plan = dedup_doc_lines(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_mixture_sample_rates_and_determinism(spark):
    from ocr_spark.operators.corpus_ops import mixture_sample

    rows = [
        (i, f"document body {i}", ["web", "books", "code"][i % 3])
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = mixture_sample(
        df, {"web": 100, "books": 50, "code": 0}, default_pct=0
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_src.get("web", set())) == 200      # 100% of web
    assert 60 <= len(by_src.get("books", set())) <= 140  # ~50% of books
    assert "code" not in by_src                       # 0% of code
    # content-keyed: a reshuffled copy selects the same docs
    df2 = spark.createDataFrame(list(reversed(rows)),
                                "doc_id long, text string, source string").repartition(5)
    out2 = {r["doc_id"] for r in mixture_sample(
        df2, {"web": 100, "books": 50, "code": 0}, default_pct=0).collect()}
    assert out2 == {r["doc_id"] for r in out}
    # scan-stage predicate: no shuffle anywhere
    plan = mixture_sample(df, {"web": 10})._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_remove_boilerplate_plan_single_corpus_shuffle(spark):
    """The sentinel design must leave exactly TWO hash exchanges — the tiny
    line-frequency aggregation and the per-doc reassembly — and NO second
    corpus-side join (the naive id-relation left join broadcasts full
    rebuilt documents; at 100 TB that is a driver OOM)."""
    from ocr_spark.operators.corpus_ops import remove_boilerplate_lines

    df = spark.createDataFrame(
        [(i, f"a{i}\nshared\nb{i}") for i in range(30)], "doc_id long, text string"
    )
    out = remove_boilerplate_lines(df, min_doc_freq=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly ONE corpus-side exchange (the per-doc reassembly); further
    # hashpartitioning prints belong to the tiny persisted hot-line
    # relation, whose cached build plan prints under InMemoryRelation but
    # executes once (see CLAUDE.md)
    assert plan.count("Exchange hashpartitioning(_id") == 1
    # the only join is the left-anti hot-line probe
    assert plan.count("Join") == plan.count("LeftAnti")
    # all-hot docs still come back (the sentinel row carries them)
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 30 and got[0]["n_removed"] == 1


def test_line_ops_null_text_semantics(spark):
    """NULL text must not drop docs or emit -1 counts: pii counts fold to
    0 (text_redacted stays NULL); the line ops treat NULL as empty."""
    from ocr_spark.operators.corpus_ops import (
        dedup_doc_lines,
        remove_boilerplate_lines,
    )
    from ocr_spark.operators.pii import redact_pii

    df = spark.createDataFrame(
        [(1, None), (2, "a@b.co\na@b.co")], "doc_id long, text string"
    )
    pii = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert (pii[1]["n_emails"], pii[1]["text_redacted"]) == (0, None)
    assert pii[2]["n_emails"] == 2
    boiler = {r["doc_id"]: r for r in remove_boilerplate_lines(df, min_doc_freq=9).collect()}
    assert set(boiler) == {1, 2}
    assert (boiler[1]["n_lines"], boiler[1]["text_clean"]) == (1, "")
    ded = {r["doc_id"]: r for r in dedup_doc_lines(df).collect()}
    assert (ded[1]["n_lines"], ded[1]["text_dedup"]) == (1, "")
    assert ded[2]["n_dup_lines"] == 1


def test_pii_cross_engine_adversarial_corpus(spark):
    """The frozen pattern trio must behave IDENTICALLY under Java regex
    (Spark) and RE2 (DuckDB) on the inputs most likely to expose dialect
    divergence: greedy TLD boundaries, \\b inside alnum runs, 5-quad IPs
    (leftmost-longest vs leftmost-first), digit-run phones, unicode around
    pattern edges, overlapping candidates.  The fixture-corpus oracle
    proves agreement on the planted distribution; this pins the corners."""
    import duckdb

    from ocr_spark.operators.pii import pii_oracle_sql, redact_pii

    cases = [
        "a@b.co", "x a@b.c y", "trailing dot a@b.com.",
        "a.b-c_d%e+f@g-h.i.jk", "@nodomain.com and user@", "double@@at.com",
        "1.2.3.4", "a1.2.3.4b", "999.999.999.999 and 0.0.0.0", "1.2.3.4.5",
        "v1.2.3 release", "+1 (415) 555-2671", "tel:+442079460958",
        "12345678", "1234567", "12-34 56 78 90", "()()()()()9",
        "email in ip 1.2.3.4@example.com",
        "a@b.co 1.2.3.4 +1 415-555-2671 a@b.co",
        "ümlaut@exämple.com", "أ@أ.com", "line1\na@b.co\nline3",
        "phone +1 415-555-2671.", "(1.2.3.4)", "..a@b.co..",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id long, text string"
    )
    got = (
        redact_pii(df)
        .select("doc_id", "n_emails", "n_ipv4", "n_phones", "text_redacted")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("corpus", df.toPandas())
    want = (
        con.execute(pii_oracle_sql("corpus"))
        .df().sort_values("doc_id").reset_index(drop=True)
    )
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    assert got.equals(want), got.compare(want)


def test_remove_boilerplate_duplicate_ids_fail_loudly(spark):
    """Duplicate ids would interleave two docs' lines into garbage text;
    the sentinel count detects it and raises on any output column."""
    import pytest as _pytest

    from ocr_spark.operators.corpus_ops import remove_boilerplate_lines

    df = spark.createDataFrame(
        [(7, "a\nb"), (7, "c\nd"), (8, "x")], "doc_id long, text string"
    )
    out = remove_boilerplate_lines(df, min_doc_freq=9)
    with _pytest.raises(Exception, match="duplicate id 7"):
        out.select("doc_id", "text_clean").collect()
    # duplicates with DIFFERING line counts must also raise — grouping on
    # (_id, n_lines) instead of the id alone would split them into
    # separate 1-sentinel groups and silently emit two rows
    df2 = spark.createDataFrame(
        [(7, "a\nb"), (7, "x"), (8, "ok")], "doc_id long, text string"
    )
    with _pytest.raises(Exception, match="duplicate id 7"):
        remove_boilerplate_lines(df2, min_doc_freq=9).select("text_clean").collect()


def test_remove_boilerplate_carry_cols(spark):
    """Metadata columns ride the exploded relation and come back out of the
    reassembly groupBy — the no-second-corpus-join path dedup_job uses."""
    from ocr_spark.operators.corpus_ops import remove_boilerplate_lines

    footer = "shared footer row"
    rows = [(i, f"{footer}\nbody {i}", f"https://h{i}.example/", "en") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string, url string, lang string")
    got = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(
            df, min_doc_freq=5, carry_cols=("url", "lang")
        ).collect()
    }
    for i in range(6):
        assert got[i]["url"] == f"https://h{i}.example/"
        assert got[i]["lang"] == "en"
        assert got[i]["text_clean"] == f"body {i}"


def test_corpus_filter_input_token_guards_signature_reuse(spark, tmp_path):
    """A caller that pre-transforms the text (dedup_job's line-cleanup
    flags) must not reuse signatures hashed over the untransformed text:
    the transform keeps row counts identical, so only the input_token in
    the fingerprint can catch it."""
    import pytest as _pytest

    from ocr_spark.operators.corpus_filter import corpus_filter
    from ocr_spark.sources.icelite import IceliteTable

    rows = [(i, f"document body number {i} with several words") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tbl = IceliteTable(str(tmp_path / "sigs"), key_col="doc_id", n_buckets=4)
    kept, _ = corpus_filter(
        df, rules={"min_chars": 5}, near_dedup=True, signatures_table=tbl
    )
    kept.count()  # materializes the signature table
    # same input/config but a different pre-processing token -> refuse
    with _pytest.raises(ValueError):
        kept2, _ = corpus_filter(
            df, rules={"min_chars": 5}, near_dedup=True,
            signatures_table=tbl, input_token="redact_pii",
        )
        kept2.count()


def test_corpus_filter_content_drift_refuses_signature_reuse(spark, tmp_path):
    """An EQUAL-CARDINALITY text drift (e.g. re-extracted docs after an
    upstream extractor fix) must refuse the stale signature table: the
    fingerprint is content-based (count + crc32 sum of text), and a
    raw count alone would silently reuse signatures hashed over the old
    texts and mis-cluster."""
    import pytest as _pytest

    from ocr_spark.operators.corpus_filter import corpus_filter
    from ocr_spark.operators.dedup import StaleTableError
    from ocr_spark.sources.icelite import IceliteTable

    rows = [(i, f"document body number {i} with several words") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tbl = IceliteTable(str(tmp_path / "sigs"), key_col="doc_id", n_buckets=4)
    kept, _ = corpus_filter(
        df, rules={"min_chars": 5}, near_dedup=True, signatures_table=tbl
    )
    kept.count()  # materializes the signature table
    drifted = spark.createDataFrame(
        [(i, f"REWRITTEN body number {i} with several words") for i in range(30)],
        "doc_id long, text string",
    )
    with _pytest.raises(StaleTableError):
        kept2, _ = corpus_filter(
            drifted, rules={"min_chars": 5}, near_dedup=True, signatures_table=tbl
        )
        kept2.count()
