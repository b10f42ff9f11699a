"""Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup.  (Exact dedup lives in uniqueness.py.)

Scale design:
- Shingles and MinHash signatures come from the per-doc word split
  (``_normalized_words``) with native expressions — no Python; signatures
  are a hash-agg MIN over exploded gram positions (``exploded_gram_stream``).
- LSH banding turns the O(n²) pair problem into groupBy(band_hash): only rows
  sharing a band bucket are joined.  At 10^12 docs, band buckets are the only
  viable candidate generator.
- Candidate verification (exact Jaccard on shingle sets) joins the (small)
  candidate-pair set back to the shingle arrays.
- Two hash families: ``xxhash64`` (fast JVM path, default) and ``md5``
  (byte-identical in DuckDB → used by the oracle-checked queries).
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread compute-heavy per-row work (shingling, hashing) across the
    cluster when the upstream scan produced too few partitions — one small
    input file would otherwise pin the whole pipeline to 1-2 cores.  The
    repartition shuffles only the raw (id, text) rows, which is trivially
    cheap next to the per-row hashing it unlocks.  No-op when the scan is
    already parallel (the normal case at real scale)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # An upstream shuffle/join already implies parallelism (≥
    # spark.sql.shuffle.partitions), and executing the pre-EnsureRequirements
    # sparkPlan of such a frame is UNSAFE — a planned broadcast join's build
    # side has no BroadcastExchange yet, so .execute() throws
    # "HashAggregate does not implement doExecuteBroadcast" (found by the
    # pipeline e2e test: dedup chained after quality-gate joins).  Only a
    # pure scan-stage plan is probed.
    plan_str = df._jdf.queryExecution().sparkPlan().toString()
    if "Exchange" in plan_str or "Join" in plan_str:
        return df
    # Partition count read JVM-side from the NON-adaptive sparkPlan — no
    # Python-RDD conversion, and (unlike the adaptive executedPlan, whose
    # doExecute materializes upstream query stages) guaranteed to run no job
    # regardless of AQE.  Exact for these scan-stage-only inputs.
    n_parts = df._jdf.queryExecution().sparkPlan().execute().getNumPartitions()
    if n_parts < max(target // 2, 2):
        return df.repartition(target)
    return df


def _non_degenerate_text(df: DataFrame, text_col: str = "_text") -> DataFrame:
    """Drop docs whose text is NULL or whitespace-only BEFORE signatures.

    Every such doc gets the IDENTICAL degenerate signature/fingerprint (the
    hash of an empty shingle set is a constant), so m of them in a corpus
    put m·(m−1)/2 pairs through the candidate join — at crawl scale ~1% null
    pages turns a 24M-doc run into a 3·10¹⁰-pair join that never finishes
    (measured on the bench substrate: 247k null texts ⇒ 3·10¹⁰ pairs).
    Null/empty pages can't be MEANINGFUL near-dup candidates, so the guard
    changes no sensible result; it is the difference between "works on the
    test table" and "works on a crawl".
    """
    return df.where(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    )


def _cap_hot_buckets(
    entries: DataFrame, key_cols: list, max_bucket_size: "int | None"
) -> DataFrame:
    """Drop candidate buckets with more than ``max_bucket_size`` members.

    A bucket of m identical-boilerplate pages contributes m²/2 pairs; real
    crawls have single templates repeated 10⁶+ times, so an uncapped
    pair-listing is quadratic in the hottest template no matter how good the
    banding is.  Shape: hash-agg bucket counts (map-side combined), keep
    only the OVER-cap keys — at most n_entries/cap of them, by definition
    tiny — and broadcast LEFT-ANTI join them against the entry stream.
    Two shapes this replaces, both measured failures: a count window SORTS
    the whole exploded entry stream inside each key partition (~80 s of
    pure sort on a 40M-entry stream), and inner-joining the UNDER-cap keys
    back builds per-task hash maps of nearly every entry key (buckets are
    mostly singletons once keys are ~32-bit), which OOM'd the 16 GB local
    JVM at 480M entries — the bad-key side is the only one guaranteed
    small at every scale.  Docs in a dropped bucket usually still pair
    through their other bands/blocks; clustering flows (near_dup_clusters)
    only need SOME edge per group.  None (default) = off — the
    oracle-checked configurations keep exact pair-listing semantics.
    """
    if max_bucket_size is None:
        return entries
    bad = (
        entries.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_bkt_n"))
        .where(F.col("_bkt_n") > max_bucket_size)
        .drop("_bkt_n")
    )
    # no forced broadcast: the over-cap set is ≤ n_entries/cap, which AQE
    # happily broadcasts at runtime in the common case, but a small cap on
    # a trillion-entry stream makes it bigger than any driver — same
    # reasoning as the df cap in _ngram_pair_overlaps
    return entries.join(bad, key_cols, "left_anti")


def _normalized_words(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _words): whitespace-normalized lowercase word array, with the
    regex+split materialized in its OWN projection.

    This is the load-bearing projection split of the whole dedup stack.
    Higher-order functions (transform/aggregate) are evaluated INTERPRETED —
    they never enter whole-stage codegen — and interpreted eval re-executes
    a lambda's free sub-expressions per element.  Inlining
    ``split(regexp_replace(lower(trim(text))))`` into a per-gram lambda
    therefore re-runs the regex ONCE PER GRAM: measured ~3.5 ms/doc on
    366-char crawl pages (~100 docs/sec/core — a hang at 24M rows).  With
    ``_words`` aliased here, CollapseProject keeps the split (non-cheap,
    multiply-referenced) and the regex runs once per doc.
    """
    return _non_degenerate_text(
        _ensure_parallelism(
            df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
        )
    ).select(
        "_id",
        F.split(
            F.regexp_replace(F.lower(F.trim(F.col("_text"))), r"\s+", " "), " "
        ).alias("_words"),
    )


def shingled_docs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_gram: int = 3,
    max_shingles: "int | None" = None,
) -> DataFrame:
    """(_id, _shingles): DISTINCT word n-grams per non-degenerate doc.

    Docs shorter than ``n_gram`` words fall back to the single
    whole-normalized-text shingle.  Built over the materialized ``_words``
    projection, so each gram lambda costs one slice+concat instead of a full
    regex+split re-evaluation (see ``_normalized_words``).
    """
    words = _normalized_words(df, id_col, text_col)
    w = F.col("_words")
    cnt = F.size(w)
    grams = F.when(
        cnt >= n_gram,
        F.transform(
            F.sequence(F.lit(1), cnt - (n_gram - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n_gram)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", w)))
    sh = F.array_distinct(grams)
    if max_shingles is not None:
        sh = F.slice(sh, 1, max_shingles)
    return words.select("_id", sh.alias("_shingles"))


def exploded_gram_stream(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_gram: int = 3,
    max_positions: "int | None" = None,
) -> DataFrame:
    """(_id, _g): one row per word-n-gram POSITION — the zero-HOF shape.

    Explodes gram positions (an int sequence) and builds each gram natively
    with ``concat_ws(slice(_words, pos, n))`` AFTER the Generate, so every
    expression stays inside whole-stage codegen — no higher-order function
    anywhere, no interpreted fallback.  Emits duplicate grams (no
    array_distinct); use only under aggregates that are multiset-invariant
    (MIN for MinHash signatures) or followed by an explicit distinct.  Short
    docs emit the whole normalized text as their single gram, matching
    ``shingled_docs``' fallback.  ``max_positions`` truncates each doc to its
    first that-many gram positions (callers whose downstream state must stay
    bounded per doc, e.g. SimHash's 16-bit vote lanes).
    """
    words = _normalized_words(df, id_col, text_col)
    n = F.size(F.col("_words"))
    last = F.greatest(n - (n_gram - 1), F.lit(1))
    if max_positions is not None:
        if max_positions < 1:
            # least(last, 0) would build a DESCENDING sequence and a
            # slice at index 0 — a mid-job runtime error, not a no-op
            raise ValueError(f"max_positions must be >= 1, got {max_positions}")
        last = F.least(last, F.lit(max_positions))
    return words.select(
        "_id",
        "_words",
        F.explode(F.sequence(F.lit(1), last)).alias("_pos"),
    ).select(
        "_id",
        F.concat_ws(" ", F.slice(F.col("_words"), F.col("_pos"), n_gram)).alias("_g"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_gram: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
    max_bucket_size: "int | None" = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: rows sharing any band bucket.

    bands × rows_per_band = num_hashes; with 8 bands of 4 the match threshold
    is roughly J ≈ (1/8)^(1/4) ≈ 0.6.  Output: (id_a, id_b, est_jaccard) with
    id_a < id_b, est_jaccard = fraction of equal minhash components.

    NULL/whitespace-only docs are excluded up front (see
    ``_non_degenerate_text``); ``max_bucket_size`` optionally drops
    pathologically hot buckets (see ``_cap_hot_buckets``).

    Signatures are computed as explode(gram positions) → per-gram native
    hashes → hash-agg MIN per doc, NOT as array_min(transform(...)) per row:
    higher-order functions never enter whole-stage codegen and their
    interpreted eval re-runs the shingle split per gram (~3.5 ms/doc
    measured — see ``_normalized_words``), while this shape is 100% codegen
    with a map-side-combined single shuffle keyed by doc id (~32 longs/doc).
    MIN is multiset-invariant, so skipping array_distinct changes nothing;
    both hash families produce the signatures an array_min over each doc's
    distinct shingles would (lexicographic MIN for the md5 family).
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands

    grams = exploded_gram_stream(df, id_col, text_col, n_gram)
    if hash_fn == "xxhash64":
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("_g"))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    elif hash_fn == "md5":
        aggs = [
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("_g")))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    with_sig = grams.groupBy("_id").agg(*aggs).select(
        "_id", F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("_sig")
    )

    def _bucket(b: int):
        comps = [F.col("_sig")[b * rows_per_band + r] for r in range(rows_per_band)]
        if hash_fn == "md5":
            # md5 of the joined band slice — byte-identical in DuckDB, so the
            # whole LSH pipeline (not just the signatures) is oracle-checkable.
            return F.md5(F.concat_ws("|", *[c.cast("string") for c in comps]))
        return F.xxhash64(F.lit(b), *comps).cast("string")

    # Candidates join on (band, bucket) with IDS ONLY — the 32-component
    # signature (~260 B/doc) stays out of the 8×-amplified band shuffle
    # (carrying it costs ~n_docs × bands × 260 B × both sides ≈ 28 GB of
    # shuffle at 24M docs; ids-only is ~25× lighter).  Signatures are joined
    # back once per side onto the (few) surviving candidate pairs for the
    # est_jaccard verify — the classic candidates-then-verify split.
    band_entries = with_sig.select(
        "_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
                for b in range(bands)
            ])
        ).alias("_band"),
    ).select("_id", "_band.band", "_band.bucket")
    band_entries = _cap_hot_buckets(band_entries, ["band", "bucket"], max_bucket_size)

    left = band_entries.alias("l")
    right = band_entries.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = with_sig.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"))
    sig_b = with_sig.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"))
    pairs = cand.join(sig_a, "id_a").join(sig_b, "id_b")
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda a, b: a == b),
                lambda eq: eq,
            )
        )
        / F.lit(float(num_hashes))
    )
    return pairs.select("id_a", "id_b", est.alias("est_jaccard"))


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    **kwargs,
) -> DataFrame:
    """LSH candidates filtered by estimated Jaccard ≥ threshold."""
    return minhash_lsh_candidates(df, id_col, text_col, **kwargs).where(
        F.col("est_jaccard") >= threshold
    )


# -- exact n-gram Jaccard ------------------------------------------------------

def winnowed_keys(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_gram: int = 3,
    window: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(_id, _g): winnowing-selected candidate keys per doc — the minimum
    gram hash of every ``window`` consecutive word n-grams (Schleimer/
    Wilkerson/Aiken winnowing over the POSITIONAL gram sequence).

    The winnowing guarantee: two documents sharing any run of
    ``window + n_gram − 1`` consecutive words share a full gram window, so
    they share that window's minimum — every real near-dup/containment pair
    (which shares many such runs) is discovered, while each doc contributes
    only ~2·n_grams/(window+1) distinct keys instead of all n_grams.  Keys
    are HASHES (collisions only ADD candidates — verification is exact from
    the full shingle sets — never lose pairs).

    ``hash_fn``: ``"xxhash64"`` (default) → BIGINT keys, the fast
    production family; ``"md5"`` → hex-string keys with lexicographic-min
    selection, byte-replayable by any SQL engine (the oracle family).

    100 TB shape: zero shuffle and zero window functions — grams never
    leave their row.  Per the interpreted-HOF rule the gram-hash array is
    materialized in its OWN projection, so the window-minima lambda touches
    only integer slices of ``_ghash`` (never recomputes a gram), and the
    word split runs once per doc (``_normalized_words``)."""
    if hash_fn == "xxhash64":
        def _h(g: Column) -> Column:
            return F.xxhash64(g)
    elif hash_fn == "md5":
        def _h(g: Column) -> Column:
            return F.md5(g)
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    words = _normalized_words(df, id_col, text_col)
    w = F.col("_words")
    cnt = F.size(w)
    # positional (NOT distinct) gram-hash sequence; <n_gram-word docs fall
    # back to the whole normalized text, matching shingled_docs
    ghash = F.when(
        cnt >= n_gram,
        F.transform(
            F.sequence(F.lit(1), cnt - (n_gram - 1)),
            lambda i: _h(F.concat_ws(" ", F.slice(w, i, n_gram))),
        ),
    ).otherwise(F.array(_h(F.concat_ws(" ", w))))
    hashed = words.select("_id", ghash.alias("_ghash"))
    g = F.col("_ghash")
    n_windows = F.greatest(F.size(g) - (window - 1), F.lit(1))
    mins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda p: F.array_min(F.slice(g, p, window)),
        )
    )
    return hashed.select("_id", F.explode(mins).alias("_g"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_gram: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 10_000,
    candidate_sample_mod: "int | None" = None,
    candidates: str = "shingles",
    winnow_window: int = 4,
    winnow_hash: str = "xxhash64",
) -> DataFrame:
    """Exact Jaccard over word n-gram sets for pairs sharing ≥1 RARE shingle.

    Candidate generation = explode(shingles) self-join on the shingle, with a
    document-frequency cap: shingles appearing in more than ``max_doc_freq``
    docs are dropped BEFORE the self-join, so one stop-shingle ("the quick
    brown" in 10⁶ docs) can't create 10¹² join rows — each surviving shingle
    contributes at most max_doc_freq² pairs.  The Jaccard itself stays EXACT:
    candidates join back to the FULL shingle arrays and intersect natively
    (``array_intersect``), so the cap affects only which pairs are
    discovered, never their score.  A pair whose every common shingle is
    hotter than the cap is not a meaningful near-dup.  Pass
    ``max_doc_freq=None`` to disable.  Output: (id_a, id_b, jaccard).

    ``candidate_sample_mod=p`` enables mod-p shingle sampling for candidate
    generation (see ``_ngram_pair_overlaps``) — a 100 TB scale path.
    ``candidates="winnow"`` generates candidates from winnowed fingerprints
    instead (``winnowed_keys``): a ~(window+1)/2× smaller self-join input
    than even mod-p, with the winnowing guarantee that any pair sharing a
    ``winnow_window + n_gram − 1``-word run is discovered.  Scores are
    unchanged either way — verification is exact from the full sets.
    """
    sizes = _ngram_pair_overlaps(
        df, id_col, text_col, n_gram, max_doc_freq, candidate_sample_mod,
        candidates, winnow_window, winnow_hash,
    )
    jac = F.col("inter_size") / (
        F.col("a_n") + F.col("b_n") - F.col("inter_size")
    )
    return sizes.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


def _ngram_pair_overlaps(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_gram: int,
    max_doc_freq: "int | None",
    candidate_sample_mod: "int | None" = None,
    candidates: str = "shingles",
    winnow_window: int = 4,
    winnow_hash: str = "xxhash64",
) -> DataFrame:
    """Shared core of ``ngram_jaccard_pairs`` / ``containment_pairs``:
    df-capped shingle self-join for candidates, then exact native
    ``array_intersect`` on the full shingle sets.  Output per candidate
    pair (id_a < id_b): (id_a, id_b, inter_size, a_n, b_n).

    ``candidate_sample_mod=p`` (the 100 TB scale path) generates candidates
    from only the shingles whose xxhash64 ≡ 0 (mod p).  Selection is
    deterministic per shingle VALUE, so both members of a pair keep or drop
    the same shingles — a pair is discovered iff ANY of its m common
    shingles is selected, P(miss) = (1 − 1/p)^m (< 0.4% for a 20-common-
    shingle near-dup at p = 4), while the self-join input shrinks p-fold
    and hot-shingle join cost p²-fold.

    ``candidates="winnow"`` replaces the shingle stream with winnowed
    fingerprint keys (``winnowed_keys``) — deterministic run-coverage
    instead of probabilistic value sampling.  Verification is UNAFFECTED by
    either choice — scores of discovered pairs come from the full shingle
    sets either way.

    ``candidates="exploded"`` is the 24M+/100 TB shape: no per-doc shingle
    ARRAYS anywhere in the plan.  The array paths above pay two
    interpreted-HOF passes over every doc (``shingled_docs``'s
    slice+concat ``transform`` and, for winnow, the ``_ghash`` lambda) —
    measured ~10 min of pure scan at 24M docs before any join — and carry
    kilobyte array cells through the verify joins.  Here candidates come
    from the positional codegen gram stream hashed to BIGINT keys
    (``exploded_gram_stream`` → ``xxhash64``; key collisions only ADD
    candidates), and verification re-derives DISTINCT STRING grams for
    CANDIDATE DOCS ONLY — a semi-join the AQE planner turns into a
    broadcast against the gram stream when the candidate id set is small,
    so verify cost scales with the number of candidates, not the corpus.
    Two cap-semantics deltas vs the array paths, both documented-benign:
    the df cap counts gram OCCURRENCES rather than distinct docs (equal
    unless a doc repeats a gram), and per-doc gram truncation is by
    position rather than by distinct-gram rank.  Scores of discovered
    pairs are exact string-set arithmetic either way."""
    if candidates not in ("shingles", "winnow", "exploded"):
        raise ValueError(
            "candidates must be 'shingles', 'winnow' or 'exploded', "
            f"got {candidates!r}"
        )
    if candidates == "exploded":
        return _exploded_pair_overlaps(
            df, id_col, text_col, n_gram, max_doc_freq, candidate_sample_mod
        )
    sh = shingled_docs(df, id_col, text_col, n_gram).select(
        "_id", F.col("_shingles").alias("_sh")
    )
    if candidates == "winnow":
        exploded = winnowed_keys(
            df, id_col, text_col, n_gram, winnow_window, winnow_hash
        )
    else:
        exploded = sh.select("_id", F.explode("_sh").alias("_g"))
    if candidate_sample_mod is not None and candidate_sample_mod > 1:
        exploded = exploded.where(
            F.pmod(F.xxhash64("_g"), F.lit(candidate_sample_mod)) == 0
        )
    if max_doc_freq is not None:
        # anti-join the OVER-cap keys, not inner-join the under-cap ones:
        # on real crawl text almost every shingle is rare, so the under-cap
        # set is nearly the whole key space (a per-task hash-join build of
        # ~all entries — the exact OOM shape _cap_hot_buckets hit), while
        # the over-cap set is bounded by n_entries/max_doc_freq.  Same
        # surviving entries either way; AQE turns this into a broadcast
        # join at runtime whenever the hot-key side is small (no forced
        # broadcast — adversarial substrates can make it large).
        hot = (
            exploded.groupBy("_g")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select("_g")
        )
        exploded = exploded.join(hot, "_g", "left_anti")
    cand = (
        exploded.alias("l")
        .join(
            exploded.alias("r"),
            (F.col("l._g") == F.col("r._g")) & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact verification on the candidate set only: intersect the full
    # (distinct) shingle arrays natively — no Python, no re-explode
    return (
        cand.join(
            sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha")), "id_a"
        )
        .join(
            sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb")), "id_b"
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sha", "_shb")).alias("inter_size"),
            F.size("_sha").alias("a_n"),
            F.size("_shb").alias("b_n"),
        )
    )


def _exploded_pair_overlaps(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_gram: int,
    max_doc_freq: "int | None",
    candidate_sample_mod: "int | None",
) -> DataFrame:
    """``candidates="exploded"`` body (see ``_ngram_pair_overlaps``): every
    expression whole-stage codegen, no per-doc arrays, verify bounded by the
    candidate set.  Output: (id_a, id_b, inter_size, a_n, b_n)."""
    grams = exploded_gram_stream(df, id_col, text_col, n_gram)

    # -- candidates: bigint gram-hash keys, df-capped, optional mod-p ------
    keyed = grams.select("_id", F.xxhash64("_g").alias("_k"))
    if candidate_sample_mod is not None and candidate_sample_mod > 1:
        keyed = keyed.where(
            F.pmod(F.col("_k"), F.lit(candidate_sample_mod)) == 0
        )
    if max_doc_freq is not None:
        # occurrence-df cap, anti-joined on the (bounded) hot-key side —
        # same reasoning as the array path's cap above
        hot = (
            keyed.groupBy("_k")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select("_k")
        )
        keyed = keyed.join(hot, "_k", "left_anti")
    cand = (
        keyed.alias("l")
        .join(
            keyed.alias("r").hint("shuffle_hash"),
            (F.col("l._k") == F.col("r._k")) & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    # -- verify: distinct STRING grams of candidate docs only --------------
    # The id semi-join runs BELOW the distinct, so the (potentially
    # billions-of-rows) gram stream is filtered by a join AQE converts to
    # broadcast whenever the candidate id set is small; the distinct and
    # everything after see only candidate docs' grams.
    ids = (
        cand.select(F.col("id_a").alias("_id"))
        .unionByName(cand.select(F.col("id_b").alias("_id")))
        .dropDuplicates(["_id"])
    )
    gsel = grams.join(ids, "_id").dropDuplicates(["_id", "_g"])
    counts = gsel.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    inter = (
        cand.join(gsel.select(F.col("_id").alias("id_a"), "_g"), "id_a")
        .join(gsel.select(F.col("_id").alias("id_b"), "_g"), ["id_b", "_g"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    return (
        # left join + coalesce: a candidate pair whose only shared KEY was a
        # hash collision has zero truly-shared grams and must score 0, not
        # vanish into an inner join
        cand.join(inter, ["id_a", "id_b"], "left")
        .join(counts.select(F.col("_id").alias("id_a"), F.col("_n").alias("a_n")), "id_a")
        .join(counts.select(F.col("_id").alias("id_b"), F.col("_n").alias("b_n")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.coalesce(F.col("inter_size"), F.lit(0)).alias("inter_size"),
            "a_n",
            "b_n",
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_gram: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int = 10_000,
    candidate_sample_mod: "int | None" = None,
    candidates: str = "shingles",
    winnow_window: int = 4,
    winnow_hash: str = "xxhash64",
) -> DataFrame:
    """ASYMMETRIC partial-duplicate detection: containment(A in B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| — catches quotations,
    boilerplate-wrapped copies and subset pages that symmetric Jaccard
    structurally misses (a 100-word doc quoted whole inside a 10k-word page
    has Jaccard ≈ 0.01 but containment 1.0).  Output: (id_a, id_b,
    containment) where ``containment`` is the fraction of ``id_a``'s
    shingles present in ``id_b``; BOTH directions of a candidate pair are
    scored and each emits independently when it clears ``threshold``.

    100 TB shape: candidate generation and exact verification are the
    ``ngram_jaccard_pairs`` machinery (df-capped shingle join — never
    all-pairs — and one native ``array_intersect`` per candidate); the two
    directions come from ONE explode over the already-verified sizes, so
    the pair set is computed once.  ``candidate_sample_mod=p`` enables the
    mod-p shingle-sampling scale path and ``candidates="winnow"`` the
    winnowed-fingerprint path (see ``_ngram_pair_overlaps``)."""
    sizes = _ngram_pair_overlaps(
        df, id_col, text_col, n_gram, max_doc_freq, candidate_sample_mod,
        candidates, winnow_window, winnow_hash,
    )
    inter = F.col("inter_size")
    both = sizes.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_a"),
                    F.col("id_b").alias("id_b"),
                    F.round(inter / F.col("a_n"), 6).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("id_a"),
                    F.col("id_a").alias("id_b"),
                    F.round(inter / F.col("b_n"), 6).alias("containment"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    return both.where(F.col("containment") >= threshold)


# -- SimHash -------------------------------------------------------------------

def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


#: Per-doc shingle cap for the packed-lane SimHash aggregation: each 16-bit
#: lane's top counter sits at bit 48+, so a lane's set-count must stay below
#: 2^15 = 32768 or the ``count << 48`` term overflows the signed 64-bit sum
#: accumulator (a runtime arithmetic error under Spark 4 ANSI mode, not a
#: wrong bit).  32000 shingles ≈ a 32k-word page — far beyond any web page;
#: docs longer than that are fingerprinted from their first 32000 shingles.
SIMHASH_MAX_SHINGLES = 32000


def simhash_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_gram: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-doc SimHash via explode → hash → groupBy(id) with packed native
    sum aggregates (map-side partial agg; one shuffle keyed by id).

    hash_fn="xxhash64": 64-bit fingerprint (fast JVM path, default).
    hash_fn="md5": 60-bit fingerprint from the first 15 hex digits of
    md5(shingle) — byte-identical in DuckDB, so the whole SimHash pipeline is
    oracle-checkable (the reason this variant exists).

    Output: (_id, _fp).

    Path split (the r4 minhash lesson, applied r5): the FAST family streams
    gram positions through ``exploded_gram_stream`` — every expression in
    whole-stage codegen, no HOF — and votes each gram OCCURRENCE
    (frequency-weighted features, Charikar's original formulation and what
    Manku et al. run in production).  Multiset votes make the vote agg
    map-side-COMPLETE: a doc's grams never leave the partition its row was
    scanned in (explode keeps them local), so the per-id partial agg
    finishes every doc locally and the only exchange carries 24M finished
    (id, 17-long) rows — no 1.2B-row (19 GB at 24M docs) gram shuffle.  A
    distinct-gram pre-dedup is what forced that shuffle in an earlier shape
    (repartition(_id) + dropDuplicates: ~13 min at 24M vs ~2 min for
    minhash on the SAME gram volume).  Per-doc boundedness comes from
    truncating to the first SIMHASH_MAX_SHINGLES gram POSITIONS.  The md5
    family keeps the HOF-shingle DISTINCT-gram shape so its fingerprints
    stay bit-identical to the DuckDB oracle's distinct-gram-string
    semantics — the two families are different (both standard) SimHash
    variants and their fingerprints are not comparable across families.
    """
    if hash_fn == "xxhash64":
        bits = 64
        sh = exploded_gram_stream(
            df, id_col, text_col, n_gram,
            max_positions=SIMHASH_MAX_SHINGLES,
        ).select("_id", F.xxhash64("_g").alias("_h"))
    elif hash_fn == "md5":
        # 15 hex nibbles = 60 bits, always non-negative (fits signed bigint)
        bits = 60
        hashed = F.conv(F.substring(F.md5(F.col("_g")), 1, 15), 16, 10).cast("bigint")
        sh = shingled_docs(
            df, id_col, text_col, n_gram, max_shingles=SIMHASH_MAX_SHINGLES
        ).select("_id", F.explode("_shingles").alias("_g")).select(
            "_id", hashed.alias("_h")
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")

    # Pack 4 per-bit set-counters into 16-bit lanes of one long: bits/4 native
    # sum aggregates instead of one per bit (4x fewer agg-buffer updates;
    # counters can't borrow across lanes because they're non-negative).  bit i
    # is set in the fingerprint iff its +1/-1 vote is positive, i.e.
    # 2*ones_i > n_shingles.  The 16-bit lane at bit 48 bounds per-doc shingle
    # counts to <32768 (see SIMHASH_MAX_SHINGLES).
    #
    # The lane values are computed in a PROJECTION below the agg, NOT inside
    # the sum(...) expressions: embedding bits/4 × 4-lane shift/and chains in
    # the aggregate update function blows janino's 64 KB method limit, the
    # whole hash-agg silently drops out of codegen, and the interpreted agg
    # costs ~75 s over the 2M-row web_pages substrate (projections auto-split
    # into sub-methods; aggregate update functions do not).  With the split,
    # the agg update is 16 plain long adds.
    one = F.lit(1).cast("bigint")
    groups = bits // 4

    def _lane(k: int):
        def bit(lane: int):
            return F.shiftright(F.col("_h"), k * 4 + lane).bitwiseAND(one)

        return (
            bit(0)
            + F.shiftleft(bit(1), 16)
            + F.shiftleft(bit(2), 32)
            + F.shiftleft(bit(3), 48)
        ).alias(f"_l{k}")

    lanes = sh.select("_id", *[_lane(k) for k in range(groups)])
    agg = lanes.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(f"_l{k}").alias(f"_p{k}") for k in range(groups)],
    )
    mask = F.lit(0xFFFF).cast("bigint")
    fp = F.lit(0).cast("bigint")
    for k in range(groups):
        for lane in range(4):
            ones = F.shiftright(F.col(f"_p{k}"), 16 * lane).bitwiseAND(mask)
            fp = fp.bitwiseOR(
                F.when(
                    ones * 2 > F.col("_n"),
                    F.shiftleft(one, k * 4 + lane),
                ).otherwise(F.lit(0).cast("bigint"))
            )
    return agg.select("_id", fp.alias("_fp"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    block_bits: "int | None" = None,
    hash_fn: str = "xxhash64",
    max_bucket_size: "int | None" = None,
    combo_blocks: "int | None" = None,
    join_partitions: "int | None" = None,
) -> DataFrame:
    """SimHash near-dups: block on bit-slices (4 rotations) so only rows
    agreeing on one block are compared — a pigeonhole guarantee for
    max_hamming ≤ 3 over 4 blocks.  Output: (id_a, id_b, hamming).

    NULL/whitespace-only docs are excluded before fingerprinting and
    ``max_bucket_size`` optionally drops pathologically hot blocks — see
    ``_non_degenerate_text`` / ``_cap_hot_buckets``.

    ``block_bits`` defaults to total_bits // (max_hamming + 1) — enough
    blocks that two fingerprints within ``max_hamming`` MUST agree on one
    (pigeonhole), for either hash family (64-bit xxhash64 or the 60-bit md5
    oracle family) and any max_hamming, without the caller remembering; an
    explicit value that leaves too few blocks is rejected.

    **Scale path — ``combo_blocks`` (multi-index blocking).**  Single-block
    keys are only ``total_bits // (h+1)`` wide (16 bits for h=3): ~65k
    buckets, so bucket population — and candidate pairs, which grow with
    its SQUARE — rises linearly with corpus size.  Fine to ~1M docs; at 24M
    the 4 block joins compare ~17B pairs.  Setting ``combo_blocks=k``
    (k > max_hamming, e.g. 6) splits the fingerprint into k near-equal
    blocks and joins on every ``(k - max_hamming)``-block combination
    (C(6,3)=20 keys of ~32 bits): a pair within ``max_hamming`` corrupts at
    most ``max_hamming`` blocks, so some combination survives intact —
    candidate recall is still EXACT, and the final verified pair set is
    identical to the single-block scheme.  Buckets now number ~2^32 per
    combination, so expected random collisions are N²·C/2^{32} (~1M pairs
    at N=24M) instead of N²/2^{16}.  This is the multi-table indexing
    design from Manku et al., "Detecting Near-Duplicates for Web Crawling"
    (WWW'07), re-expressed as an explode + self-equi-join."""
    fp = simhash_fingerprints(df, id_col, text_col, hash_fn=hash_fn)
    total_bits = 60 if hash_fn == "md5" else 64
    if combo_blocks is not None:
        if combo_blocks <= max_hamming:
            raise ValueError(
                f"combo_blocks={combo_blocks} must exceed "
                f"max_hamming={max_hamming} for the pigeonhole guarantee"
            )
        # near-equal block widths covering all total_bits (e.g. 64/6 →
        # 11,11,11,11,10,10); offsets precomputed driver-side
        base, extra = divmod(total_bits, combo_blocks)
        widths = [base + (1 if i < extra else 0) for i in range(combo_blocks)]
        offsets = [sum(widths[:i]) for i in range(combo_blocks)]

        def _block(i: int):
            return F.shiftright("_fp", offsets[i]).bitwiseAND(
                F.lit((1 << widths[i]) - 1)
            )

        keep = combo_blocks - max_hamming
        combos = list(itertools.combinations(range(combo_blocks), keep))
        # pack each combination's block values into ONE bigint key by
        # shifting each block by the NEXT block's actual width (not a fixed
        # 16-bit lane, which would let >16-bit blocks overlap lanes —
        # cross-tuple key collisions — and overflow signed 64-bit under
        # ANSI for keep ≥ 4).  Kept widths sum to ≤ total_bits ≤ 64, so the
        # packed key always fits a bigint (the sign bit is fine for a join
        # key), and distinct block tuples always map to distinct keys.
        structs = []
        for ci, combo in enumerate(combos):
            key = F.lit(0).cast("bigint")
            for b in combo:
                key = F.shiftleft(key, widths[b]).bitwiseOR(_block(b))
            structs.append(
                F.struct(F.lit(ci).alias("blk"), key.alias("key"))
            )
        # ids-only through the C(k, k-h)×-amplified shuffle (20× at k=6,
        # h=3) — the fingerprint rides along only in the single-block path,
        # whose 4× amplification makes carrying it cheaper than a join
        # back; at 20× the 8-byte _fp is a third of the entry row, so it
        # joins back onto the (few) surviving candidates instead, exactly
        # the minhash candidates-then-verify split above.
        blocked = fp.select(
            "_id", F.explode(F.array(*structs)).alias("_b")
        ).select("_id", "_b.blk", "_b.key")
    else:
        if block_bits is None:
            block_bits = max(total_bits // (max_hamming + 1), 1)
        n_blocks = total_bits // block_bits
        if n_blocks <= max_hamming:
            raise ValueError(
                f"block_bits={block_bits} gives {n_blocks} blocks over "
                f"{total_bits}-bit fingerprints — need > max_hamming="
                f"{max_hamming} blocks for the pigeonhole guarantee"
            )
        mask = (1 << block_bits) - 1
        blocked = fp.select(
            "_id",
            "_fp",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftright("_fp", b * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_blocks)
                ])
            ).alias("_b"),
        ).select("_id", "_fp", "_b.blk", "_b.key")
    blocked = _cap_hot_buckets(blocked, ["blk", "key"], max_bucket_size)
    if join_partitions is not None:
        # Shuffle-hash build maps must fit per-task execution memory
        # (~exec_pool/cores); AQE's 64 MB advisory target leaves ~1.9M-row
        # builds at 480M entries — marginal on a 16 GB local JVM.  An
        # explicit repartition on the join keys sets the granularity
        # directly (it IS the join exchange — satisfies the clustering
        # requirement, so no extra shuffle; self-join reuses it for both
        # sides).  Size it so entries/join_partitions ≈ a few hundred k.
        blocked = blocked.repartition(join_partitions, "blk", "key")
    # shuffle-hash, not sort-merge: both sides are the same exploded stream
    # (n_blocks×N rows) and per-partition build maps are small; skipping the
    # two 40M-row sorts measured 6× on the 2M-row web_pages substrate
    joined = blocked.alias("l").join(
        blocked.alias("r").hint("shuffle_hash"),
        (F.col("l.blk") == F.col("r.blk"))
        & (F.col("l.key") == F.col("r.key"))
        & (F.col("l._id") < F.col("r._id")),
    )
    if combo_blocks is not None:
        cand = joined.select(
            F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b")
        ).dropDuplicates(["id_a", "id_b"])
        fp_a = fp.select(F.col("_id").alias("id_a"), F.col("_fp").alias("_fpa"))
        fp_b = fp.select(F.col("_id").alias("id_b"), F.col("_fp").alias("_fpb"))
        pairs = (
            cand.join(fp_a, "id_a")
            .join(fp_b, "id_b")
            .select(
                "id_a",
                "id_b",
                hamming64(F.col("_fpa"), F.col("_fpb")).alias("hamming"),
            )
        )
    else:
        pairs = (
            joined.select(
                F.col("l._id").alias("id_a"),
                F.col("r._id").alias("id_b"),
                hamming64(F.col("l._fp"), F.col("r._fp")).alias("hamming"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    return pairs.where(F.col("hamming") <= max_hamming)


# -- near-dup clustering -------------------------------------------------------

#: Diagnostic: number of propagation iterations the most recent
#: ``near_dup_clusters`` call ran before converging (read by stress tests
#: and ops dashboards; never affects results).
LAST_CC_ITERATIONS = 0


def near_dup_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """Connected components over near-dup candidate pairs via min-label
    propagation: every node ends up labelled with the smallest id in its
    component.  Output: (id, cluster_id) — keep e.g. ``id == cluster_id`` (or
    min quality per cluster) to deduplicate a corpus group-wise.

    Scale shape: one join + hash agg per iteration; iterations needed = graph
    diameter, and near-dup components are hub-shaped (a boilerplate template
    pairs everything through its hottest members), so this converges in a
    handful of rounds — a 10k-node planted mega-component converges in ≤ 4
    iterations (stress-tested).  Each round the labels are checkpointed to
    cut the growing lineage (the classic iterative-algorithm requirement):

    * ``checkpoint_dir=None`` (sandbox default): ``localCheckpoint`` —
      executor-local blocks, zero filesystem setup, NOT fault-tolerant (an
      executor loss mid-iteration fails the job).
    * ``checkpoint_dir="hdfs://.../cc"`` (the 100 TB path): RELIABLE
      ``checkpoint()`` to that directory, so label state survives executor
      loss and the job recomputes only the lost partitions.
    """
    global LAST_CC_ITERATIONS
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint()
    else:
        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint()

    edges = pairs.select(
        F.col(pairs.columns[0]).alias("src"), F.col(pairs.columns[1]).alias("dst")
    )
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = sym.select(F.col("src").alias("id")).distinct()
    labels = _ckpt(nodes.select("id", F.col("id").alias("cluster_id")))
    prev_sum = None
    LAST_CC_ITERATIONS = 0
    for _ in range(max_iter):
        LAST_CC_ITERATIONS += 1
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("_nmin"))
        )
        updated = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("_nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        # Min-label propagation only ever LOWERS labels, so sum(cluster_id)
        # strictly decreases on any change — an unchanged sum IS convergence.
        # The sum is observed during the checkpoint job itself, so testing
        # convergence costs no job of its own.  decimal accumulator: immune
        # to ANSI long-overflow at any node count.
        obs = Observation()
        updated = _ckpt(
            updated.observe(
                obs, F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
            )
        )
        cur = obs.get["s"]
        labels = updated
        if cur == prev_sum:
            break
        prev_sum = cur
    return labels


# -- embedding cosine near-dup ---------------------------------------------------

#: Seed stride between SRP bands — bands must draw INDEPENDENT hyperplane
#: sets; both the Spark plan and the DuckDB oracle derive band b's seed as
#: ``seed + EMBED_BAND_SEED_STRIDE * b``.
EMBED_BAND_SEED_STRIDE = 1000


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 8,
    bands: int = 4,
    seed: int = 42,
    dim: "int | None" = None,
) -> DataFrame:
    """Cosine near-dup pairs via random-hyperplane LSH bucketing + exact
    verification within buckets (see similarity.py for the primitives).
    ``dim`` (embedding width) comes from the argument or from column
    metadata written by ``declare_dim`` — never from a data probe.

    Band-amplified like MinHash banding: ``bands`` independent
    ``num_planes``-bit SRP signatures OR'd together — a pair is a candidate
    if it collides in ANY band.  A single 12-plane signature caps recall at
    ~0.58 for cosine 0.99 pairs (P(bit agrees) ≈ 1 − acos(0.99)/π ≈ 0.955,
    0.955¹² ≈ 0.58); 4 bands of 8 planes lift it to
    1 − (1 − 0.955⁸)⁴ ≈ 0.99.  Every candidate is exactly verified, so
    banding only adds recall, never false positives.
    """
    from .similarity import arrow_dot, srp_band_signatures

    if dim is None:
        dim = dim_hint(df, vec_col)
    v = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    # band signatures + row norm in ONE vectorized Arrow batch per task
    # (see srp_band_signatures) — the vectors cross the Arrow boundary once
    sigged = v.select(
        "_id",
        "_v",
        srp_band_signatures(
            F.col("_v"), dim, num_planes, bands, seed, EMBED_BAND_SEED_STRIDE
        ).alias("_sn"),
    )
    # ids-only through the band-amplified self-join (the vectors+norms are
    # ~520 B/row; carrying them through bands× both sides dwarfs the ids —
    # same candidates-then-verify split as minhash_lsh_candidates), then the
    # few surviving pairs join the vectors back for exact verification.
    entries = sigged.select(
        "_id", F.posexplode("_sn.sigs").alias("band", "bucket")
    )
    cand = (
        entries.alias("l")
        .join(
            entries.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vn = sigged.select("_id", "_v", F.col("_sn.nrm").alias("_n"))
    pairs = (
        cand.join(
            vn.select(
                F.col("_id").alias("id_a"),
                F.col("_v").alias("_va"),
                F.col("_n").alias("_na"),
            ),
            "id_a",
        )
        .join(
            vn.select(
                F.col("_id").alias("id_b"),
                F.col("_v").alias("_vb"),
                F.col("_n").alias("_nb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                arrow_dot(F.col("_va"), F.col("_vb"), dim)
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("cosine"),
        )
    )
    return pairs.where(F.col("cosine") >= threshold)


def keep_best_per_cluster(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    max_iter: int = 20,
) -> DataFrame:
    """Close the dedup loop: given near-dup candidate ``pairs``, keep ONE
    representative per connected component — the highest-``score_col`` doc
    (ties: smallest id).  Docs in no pair survive untouched.

    Output: docs columns + ``cluster_id`` (smallest id in the component;
    singletons are their own cluster) filtered to the representatives.

    Scale shape: connected components via min-label propagation
    (``near_dup_clusters``), then one window over (cluster_id) — the window
    partitions are near-dup groups (tiny), so the rank shuffle carries only
    clustered docs; unclustered docs bypass the shuffle entirely via the
    left-anti fast path.
    """
    from pyspark.sql import Window

    if "cluster_id" in docs.columns:
        raise ValueError(
            "docs already has a 'cluster_id' column — rename it first "
            "(keep_best_per_cluster adds its own cluster_id to the output)"
        )
    labels = near_dup_clusters(pairs, max_iter=max_iter).select(
        # private aliases: a docs column named "id" or "cluster_id" must not
        # collide (drop("id") would silently remove BOTH id columns)
        F.col("id").alias("_kb_id"), F.col("cluster_id").alias("_kb_cluster")
    )
    clustered = docs.join(labels, docs[id_col] == labels["_kb_id"]).drop("_kb_id")
    w = Window.partitionBy("_kb_cluster").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    best = (
        clustered.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .withColumnRenamed("_kb_cluster", "cluster_id")
    )
    singletons = docs.join(
        labels, docs[id_col] == labels["_kb_id"], "left_anti"
    ).withColumn("cluster_id", F.col(id_col))
    return best.unionByName(singletons)


#: Column-metadata key under which ``declare_dim`` records embedding width.
DIM_METADATA_KEY = "schema_validator.dim"


def declare_dim(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Attach the embedding width to ``vec_col``'s column metadata so every
    downstream ANN operator (``embedding_near_duplicates``, ``lsh_topk``)
    can read it at PLAN time — declare once at ingestion, never probe."""
    meta = dict(df.schema[vec_col].metadata or {})
    meta[DIM_METADATA_KEY] = int(dim)
    return df.withColumn(vec_col, F.col(vec_col).alias(vec_col, metadata=meta))


def dim_hint(df: DataFrame, vec_col: str) -> int:
    """Embedding width from ``vec_col``'s declared column metadata (see
    ``declare_dim``).  Spark's array type carries no length, so when nothing
    is declared this RAISES instead of probing: a silent one-row ``.first()``
    job in a library default is a scheduling hiccup at scale (VERDICT r3) —
    the caller either knows the width (pass ``dim=``) or declared it at
    ingestion."""
    meta = df.schema[vec_col].metadata or {}
    if DIM_METADATA_KEY in meta:
        return int(meta[DIM_METADATA_KEY])
    raise ValueError(
        f"embedding width of {vec_col!r} is not declared: pass dim= "
        "explicitly or declare it once at ingestion with "
        f"declare_dim(df, {vec_col!r}, dim)"
    )


# -- cross-batch (incremental) dedup -------------------------------------------

def catalog_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-column (``fingerprint``) catalog of a corpus's exact-content
    fingerprints (md5 of whitespace-normalized lowercase text) — build once
    per ingested corpus, append survivors after every new batch."""
    from .textquality import fingerprint_exact

    return df.select(
        fingerprint_exact(F.col(text_col)).alias("fingerprint")
    ).dropDuplicates(["fingerprint"])


def dedup_against_catalog(
    df: DataFrame,
    catalog: DataFrame,
    id_col: str,
    text_col: str = "text",
    catalog_fp_col: str = "fingerprint",
    strategy: str = "auto",
) -> DataFrame:
    """Incremental-ingestion dedup: drop new documents whose exact
    (normalized) content fingerprint already exists in a catalog of
    previously ingested documents — the cross-batch companion to the
    within-corpus dedup operators (a fresh crawl must not re-add what the
    training set already holds; the same shape excludes a frozen eval set).
    Returns the SURVIVING rows of ``df`` with their ``fingerprint`` attached,
    so survivors can be appended to the catalog in the same pass
    (``catalog_fingerprints`` builds the initial catalog).

    Rows with a NULL ``text_col`` always survive (NULL fingerprints never
    match — degenerate-doc policy belongs to the cleaning gates, not here).

    100 TB shape: a left-anti join against the DISTINCT catalog prints —
    ``broadcast`` ships the prints once and never shuffles the new batch
    (right for catalogs under the executor-memory bar), ``shuffle_hash``
    hash-partitions both sides for bigger catalogs (no sort of either
    side), ``auto`` lets Catalyst/AQE pick (the referential.py strategy
    switch)."""
    from .textquality import fingerprint_exact

    if "fingerprint" in df.columns:
        raise ValueError(
            "dedup_against_catalog attaches a 'fingerprint' column which "
            "already exists in the input — rename or drop it first"
        )
    staged = df.withColumn("fingerprint", fingerprint_exact(F.col(text_col)))
    cat = catalog.select(
        F.col(catalog_fp_col).alias("fingerprint")
    ).dropDuplicates(["fingerprint"])
    if strategy == "broadcast":
        cat = F.broadcast(cat)
    elif strategy == "shuffle_hash":
        cat = cat.hint("shuffle_hash")
    elif strategy != "auto":
        raise ValueError(f"unknown strategy {strategy!r}")
    return staged.join(cat, on="fingerprint", how="left_anti")
