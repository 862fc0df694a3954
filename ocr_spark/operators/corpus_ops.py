"""Corpus-construction operators: the standard training-data plumbing a
web-scale pipeline needs AROUND extraction/dedup — subsampling, test-set
decontamination, sequence packing, LM-proxy quality scoring.  All four are
pure ``pyspark.sql.functions`` expressions (whole-stage codegen, zero
Python), designed so an independent DuckDB oracle can reproduce them
exactly.

Scale notes (the 100 TB lens):
- ``deterministic_sample``: a content-hash predicate — fully pushed into
  the scan stage, no shuffle, stable across reruns/partitioning (unlike
  ``df.sample``, whose output depends on partition layout).
- ``decontaminate``: the benchmark side is tiny by construction (eval sets
  are ~10^3..10^5 docs), so its distinct n-gram set BROADCASTS; the corpus
  side streams through one hash join — no corpus shuffle at all.
- ``pack_sequences``: a global running token offset computed as a
  THREE-LEVEL prefix sum — per-chunk subtotals (map-side combined), per-
  superchunk subtotals, one unpartitioned window over n/chunk^2 rows,
  then partitioned windows back down.  A naive single ``Window.orderBy``
  with no partition would funnel the whole corpus through ONE task; even
  a two-level scheme leaves n/chunk rows (2.4x10^8 at 10^12 docs) in a
  single window task.
- ``unigram_logprob``: vocab counts via map-side-combined groupBy on the
  word; per-word surprisals are rounded to integer micro-nats BEFORE the
  per-doc sum so the aggregate is exact-integer math — cross-engine
  float-sum-order differences cannot flip the compared output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.plans.partitioning import guarded_broadcast


# ---------------------------------------------------------------------------
# deterministic content-hash sampling
# ---------------------------------------------------------------------------
def sample_bucket(col, modulus: int = 100):
    """Deterministic [0, modulus) bucket from md5 — engine-portable
    (DuckDB: ('0x' || substr(md5(x),1,8))::UBIGINT % modulus)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % modulus
    )


def deterministic_sample(
    df: DataFrame, keep_pct: int, key_col: str = "text", modulus: int = 100
) -> DataFrame:
    """Keep rows whose content-hash bucket < ``keep_pct`` — a reproducible
    corpus subsample: rerunning on a reshuffled/re-keyed copy of the data
    selects the SAME documents (content-keyed), and the predicate
    evaluates inside the scan stage (no shuffle, no RNG state)."""
    return df.filter(sample_bucket(F.col(key_col), modulus) < keep_pct)


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap, GPT-3 appendix-C style)
# ---------------------------------------------------------------------------
def exploded_word_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int, out_id: str = "_id"
) -> DataFrame:
    """(id, gram) pairs: distinct word n-grams per doc.  THE shared gram
    spec — ngram_jaccard_pairs, decontaminate, and the DuckDB oracles all
    mirror these exact rules: whitespace tokenization of the trimmed text;
    texts shorter than n words contribute their full text as one gram;
    empty/whitespace-only texts contribute nothing.

    The words array is BOUND to a column before the transform lambda —
    inlining the split() would make the engine re-split the text once per
    gram element (measured 11x slower on the gram build at sf0.1)."""
    words = df.select(
        F.col(id_col).alias(out_id),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_w"),
        (F.length(F.trim(F.col(text_col))) == 0).alias("_empty"),
    )
    grams = F.when(F.col("_empty"), F.array()).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("_w") - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i + 1, n)),
            )
        )
    )
    return words.select(out_id, F.explode(grams).alias("gram"))


def _distinct_ngrams(df: DataFrame, id_col: str, text_col: str, n: int):
    return exploded_word_ngrams(df, id_col, text_col, n, out_id="_id")


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    max_broadcast_hits: int | None = 1_000_000,
) -> DataFrame:
    """Flag corpus documents sharing at least one word ``n``-gram with the
    benchmark/eval set (the exact-substring decontamination rule used for
    GPT-3-style training corpora; n=13 is the published default).  Returns
    one row per corpus doc: (id, contaminated, n_matched_grams).

    The benchmark's distinct gram set is broadcast (eval sets are small);
    the corpus side is one scan + hash join + partial-agg count — nothing
    about the corpus shuffles.

    The second join (per-doc hit counts back onto the id relation) is
    GUARDED: ``hits`` is bounded by the contaminated-doc count, tiny for a
    real eval set, but a benchmark that shares boilerplate with the corpus
    (or a mis-passed frame) makes it corpus-scale and an unconditional
    broadcast would OOM the driver — see
    :func:`~ocr_spark.plans.partitioning.guarded_broadcast` (raise the cap
    only with driver memory to spare).  Callers that KNOW the benchmark is
    a bounded eval set can pass ``max_broadcast_hits=None`` to skip the
    probe and broadcast unconditionally."""
    bench_grams = (
        _distinct_ngrams(benchmark, id_col, text_col, n)
        .select("gram")
        .distinct()
    )
    hits = (
        _distinct_ngrams(corpus, id_col, text_col, n)
        .join(F.broadcast(bench_grams), "gram")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_matched_grams"))
    )
    ids = corpus.select(F.col(id_col))
    right = guarded_broadcast(hits, max_broadcast_hits)
    return (
        ids.join(right, ids[id_col] == right["_id"], "left")
        .select(
            id_col,
            F.col("n_matched_grams").isNotNull().alias("contaminated"),
            F.coalesce("n_matched_grams", F.lit(0)).cast("bigint").alias("n_matched_grams"),
        )
    )


# ---------------------------------------------------------------------------
# repetition signal (Gopher: fraction of tokens in the most common n-gram)
# ---------------------------------------------------------------------------
def top_ngram_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Per-document repetition signal (Rae et al. 2021 §A1.1 'repetition
    removal'): the occurrence count of the document's most frequent word
    ``n``-gram and the fraction of tokens it covers (count*n / n_tokens).
    Template/spam pages repeat one phrase; prose doesn't.

    Relational on purpose — explode grams WITH multiplicity, map-side
    partial count per (doc, gram), max per doc — so the same shape runs on
    DuckDB for the oracle and the per-doc state never exceeds one (gram,
    count) pair post-aggregation.  Texts shorter than ``n`` words have no
    n-gram: count 0, ratio 0 (note: a DIFFERENT short-text convention from
    exploded_word_ngrams, which is a dedup identity)."""
    words = df.select(
        F.col(id_col).alias("_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_w"),
        (F.length(F.trim(F.col(text_col))) == 0).alias("_empty"),
    )
    grams = words.select(
        "_id",
        F.size("_w").alias("_n_toks"),
        F.explode(
            F.when(F.col("_empty") | (F.size("_w") < n), F.array()).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.size("_w") - n),
                    lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i + 1, n)),
                )
            )
        ).alias("gram"),
    )
    top = (
        grams.groupBy("_id", "_n_toks", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("_id", "_n_toks")
        .agg(F.max("c").alias("top_gram_count"))
    )
    ids = df.select(F.col(id_col))
    return (
        ids.join(top, ids[id_col] == top._id, "left")
        .select(
            id_col,
            F.coalesce("top_gram_count", F.lit(0)).cast("bigint").alias("top_gram_count"),
            F.round(
                F.coalesce(
                    F.col("top_gram_count") * n / F.col("_n_toks"), F.lit(0.0)
                ),
                6,
            ).alias("top_gram_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# sequence packing (concatenate-and-cut at a token budget)
# ---------------------------------------------------------------------------
def pack_sequences(
    df: DataFrame,
    token_budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk: int = 4096,
) -> DataFrame:
    """Assign every document its token offset in the concatenated corpus
    stream (ordered by ``id_col``) and the training-sequence index where it
    starts: ``seq_no = start_tok // token_budget`` — the concatenate-and-
    cut packing used to build fixed-length LM training batches.

    THREE-level distributed prefix sum, every window bounded: docs group
    into chunks of ``chunk`` ids, chunks into superchunks of ``chunk``
    chunks.  The ONLY unpartitioned window runs over superchunk subtotals
    — n/chunk^2 rows (~6x10^4 at 10^12 docs with the default chunk=4096),
    so no single task ever materializes more than max(chunk, n/chunk^2)
    rows regardless of corpus size.  Chunk bases get a window partitioned
    by superchunk (<=chunk rows per key); docs get a window partitioned by
    chunk.  The chunk-base relation (n/chunk rows — too big to broadcast
    at 10^12 docs) joins the corpus on ``_chunk``, the SAME key the
    per-doc window partitions by, so the corpus shuffles exactly once and
    the join reuses that exchange.  Output: (id, n_tokens, start_tok,
    seq_no)."""
    from ocr_spark.operators.textstats_ops import _n_ws_tokens

    t = F.col(text_col)
    n_tokens = _n_ws_tokens(t).cast("bigint")
    with_n = df.select(
        F.col(id_col), n_tokens.alias("n_tokens"),
        (F.col(id_col) / chunk).cast("bigint").alias("_chunk"),
    )
    chunk_totals = (
        with_n.groupBy("_chunk")
        .agg(F.sum("n_tokens").alias("_chunk_tokens"))
        .withColumn("_super", (F.col("_chunk") / chunk).cast("bigint"))
    )
    super_totals = chunk_totals.groupBy("_super").agg(
        F.sum("_chunk_tokens").alias("_super_tokens")
    )
    w_super = Window.orderBy("_super").rowsBetween(Window.unboundedPreceding, -1)
    super_base = super_totals.select(
        "_super",
        F.coalesce(F.sum("_super_tokens").over(w_super), F.lit(0)).alias("_super_base"),
    )
    w_chunk_in = (
        Window.partitionBy("_super")
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunk_base = (
        chunk_totals.join(F.broadcast(super_base), "_super")
        .select(
            "_chunk",
            (
                F.col("_super_base")
                + F.coalesce(F.sum("_chunk_tokens").over(w_chunk_in), F.lit(0))
            ).alias("_base"),
        )
    )
    w_in = (
        Window.partitionBy("_chunk")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        with_n.join(chunk_base, "_chunk")
        .select(
            id_col,
            "n_tokens",
            (F.col("_base") + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)))
            .alias("start_tok"),
        )
        .withColumn("seq_no", (F.col("start_tok") / token_budget).cast("bigint"))
    )


# ---------------------------------------------------------------------------
# unigram-LM surprisal (CCNet-style perplexity proxy)
# ---------------------------------------------------------------------------
def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document total surprisal under the corpus's own add-one-smoothed
    unigram model (the scalable stand-in for CCNet's KenLM perplexity
    filter: high surprisal-per-token = far from the corpus distribution =
    likely junk).  p(w) = (count(w)+1) / (n_words+vocab); each word's
    -ln p(w) is rounded to integer MICRO-NATS before summing, so the
    per-doc aggregate is exact integer math — deterministic across
    engines and summation orders.  Output: (id, n_words bigint,
    surprisal_micronats bigint)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    words = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.when(F.length(F.trim(F.col(text_col))) == 0, F.array()).otherwise(toks)
        ).alias("word"),
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    totals = vocab.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v")
    )
    scored = words.join(vocab, "word").crossJoin(F.broadcast(totals))
    micronats = F.round(
        -F.log((F.col("c") + 1) / (F.col("n_total") + F.col("v"))) * 1e6
    ).cast("bigint")
    per_doc = scored.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(micronats).alias("surprisal_micronats"),
    )
    ids = df.select(F.col(id_col))
    return (
        ids.join(per_doc, ids[id_col] == per_doc._id, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce("surprisal_micronats", F.lit(0)).cast("bigint").alias(
                "surprisal_micronats"
            ),
        )
    )


# ---------------------------------------------------------------------------
# line-level cleanup (CCNet/RefinedWeb-style)
# ---------------------------------------------------------------------------
def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 5,
    max_broadcast_lines: int | None = 1_000_000,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Cross-document boilerplate-line removal (the CCNet paragraph-dedup /
    RefinedWeb line-filter stage): a line appearing in >= ``min_doc_freq``
    DISTINCT documents is template chrome (copyright rows, subscribe
    prompts, cookie banners) and is dropped from every document.  Returns
    one row per input doc: (id, n_lines, n_removed, text_clean) with line
    order preserved.

    Scale shape (100 TB lens), three deliberate choices:

    - **Line doc-frequency with NO (line, doc) distinct shuffle**: per-doc
      dedup happens map-side via ``array_distinct`` on the split array
      BEFORE the explode, so the ``groupBy(line).count()`` partial-
      aggregates template lines down to one row per line per task.
    - **Guarded broadcast of the hot set** (same pattern as
      :func:`decontaminate`): hot lines are bounded by
      total_lines/min_doc_freq and are ~10^5..10^7 template strings on a
      real crawl, so the anti-join side usually broadcasts; a
      pathological corpus (every line shared) overflows the probe and
      falls back to a shuffle join
      (:func:`~ocr_spark.plans.partitioning.guarded_broadcast`).
    - **One reassembly shuffle and NO second corpus join**: every doc's
      exploded rows are prefixed with a null-line SENTINEL row — a null
      join key never matches, so the sentinel always survives the
      left-anti join and every doc (even one whose every line was hot)
      reaches the reassembly groupBy.  The naive alternative — left-join
      the rebuilt docs back onto the id relation to restore emptied docs
      — is a second corpus-scale join that the optimizer is tempted to
      BROADCAST (the rebuilt side carries full document text; at 100 TB
      that is a driver OOM, not a plan).  For the same reason callers that
      need other columns preserved pass ``carry_cols`` — the metadata
      rides the exploded relation (a few extra bytes per line row) and is
      re-emitted by the reassembly groupBy, instead of a second
      corpus-scale join back onto the input.
    """
    # NULL text folds to "" so the doc still reaches the output (a null
    # split array would silently drop it from the exploded relation)
    arr = df.select(
        F.col(id_col).alias("_id"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), "\n").alias("_arr"),
        *[F.col(c) for c in carry_cols],
    )
    freq = (
        arr.select(F.explode(F.array_distinct("_arr")).alias("_line"))
        .groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    hot = freq.filter(F.col("_df") >= min_doc_freq).select("_line")
    hot_rel = guarded_broadcast(hot, max_broadcast_lines)
    sentinel = F.array(F.lit(None).cast("string"))
    lines = arr.select(
        "_id",
        F.size("_arr").cast("bigint").alias("_n_lines"),
        F.posexplode(F.concat(sentinel, F.col("_arr"))).alias("_pos", "_line"),
        *[F.col(c) for c in carry_cols],
    )
    kept = lines.join(hot_rel, "_line", "left_anti")
    # every physical input row contributes exactly one (null-line) sentinel;
    # seeing more than one in a group means duplicate ids, whose lines
    # would interleave into garbage text — fail loudly on EVERY output
    # column (a consumer that prunes down to just text_clean must still
    # hit the guard).  The group key is the id ALONE: grouping on
    # (_id, _n_lines) would split duplicate ids with differing line counts
    # into separate 1-sentinel groups and silently emit multiple rows.
    dup_msg = F.concat(
        F.lit("remove_boilerplate_lines: duplicate id "),
        F.col("_id").cast("string"),
        F.lit(" in input (ids must be unique)"),
    )

    def guarded(col):
        return F.when(F.col("_n_sent") == 1, col).otherwise(F.raise_error(dup_msg))

    return kept.groupBy("_id").agg(
        # min/first are deterministic here: the guard rejects any group
        # built from more than one input row
        F.min("_n_lines").alias("_n_lines"),
        *[F.first(c).alias(c) for c in carry_cols],
        F.sum(F.col("_line").isNull().cast("int")).alias("_n_sent"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("_n_kept"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                    lambda s: s["_line"].isNotNull(),
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("text_clean"),
    ).select(
        F.col("_id").alias(id_col),
        *[F.col(c) for c in carry_cols],
        F.col("_n_lines").alias("n_lines"),
        guarded(F.col("_n_lines") - F.col("_n_kept")).cast("bigint").alias("n_removed"),
        guarded(F.col("text_clean")).alias("text_clean"),
    )


def dedup_lines_expr(col):
    """First-occurrence intra-doc line dedup as a bare Column —
    composable into jobs that rewrite ``text`` in place."""
    return F.array_join(F.array_distinct(F.split(col, "\n")), "\n")


def dedup_doc_lines(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document duplicate-line removal (keep the FIRST occurrence,
    preserve order) — the within-page half of CCNet's line dedup; scraped
    pages repeat nav fragments and lazy-loaded paragraphs.

    Zero shuffle: ``array_distinct`` keeps first-occurrence order and runs
    entirely inside the scan stage's codegen — the whole op is a
    projection.  NULL text folds to "" (one empty line).  Output:
    (id, n_lines, n_dup_lines, text_dedup)."""
    arr = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    ded = F.array_distinct(arr)
    return df.select(
        F.col(id_col),
        F.size(arr).cast("bigint").alias("n_lines"),
        (F.size(arr) - F.size(ded)).cast("bigint").alias("n_dup_lines"),
        F.array_join(ded, "\n").alias("text_dedup"),
    )


# ---------------------------------------------------------------------------
# training-mixture sampling (per-source rates)
# ---------------------------------------------------------------------------
def mixture_sample(
    df,
    rates: dict[str, int],
    group_col: str = "source",
    key_col: str = "text",
    modulus: int = 100,
    default_pct: int = 0,
) -> DataFrame:
    """Deterministic per-source subsampling to hit a training-mixture recipe
    (keep ``rates[source]`` percent of each source's docs; unlisted sources
    keep ``default_pct``).  The Pile/Dolma-style domain reweighting, minus
    the nondeterminism: membership is a pure function of the CONTENT hash,
    so reruns, repartitions, and incremental top-ups select the same rows.

    Scale: the rate map is a literal ``create_map`` folded into ONE scan-
    stage predicate — no join, no shuffle, no RNG state, no driver-side
    rate table to distribute."""
    pairs = [x for k, v in sorted(rates.items()) for x in (F.lit(k), F.lit(int(v)))]
    pct = F.coalesce(
        F.create_map(*pairs)[F.col(group_col)], F.lit(int(default_pct))
    )
    return df.filter(sample_bucket(F.col(key_col), modulus) < pct)
