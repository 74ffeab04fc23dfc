"""Deduplication operators for large-scale document pipelines.

Four tiers, all engine-portable (signatures built from md5, which every
SQL engine computes identically -- the DuckDB oracle reproduces them
bit-for-bit):

  * exact            -- fingerprint (md5 of normalized text) groupBy.
  * minhash + LSH    -- word-shingle MinHash signature; banding; a
                        band-bucket self-join yields candidate pairs.
                        MinHash here is a universal-hash family over a
                        single md5 base draw per shingle: x =
                        md5(shingle) truncated to 60 bits, then
                        h_i = (a_i * (x mod P) + b_i) mod P with
                        P = 2^31 - 1 and fixed (a_i, b_i). ONE md5 per
                        shingle instead of one per (shingle, hash) --
                        8x less hashing on the scan-dominated path --
                        and pure bigint arithmetic that every SQL
                        engine reproduces bit-for-bit.
  * simhash (16-bit) -- per-token md5 nibble high-bits, majority vote
                        per bit position -> 16-char bitstring.
  * n-gram Jaccard   -- exact Jaccard over word n-gram shingle sets
                        for candidate pairs (verification tier after
                        LSH, or standalone within small buckets).

Scale notes: signature computation is narrow (higher-order functions
over an array column, fully JVM-side). The only shuffles are the
groupBys on fingerprint / band-bucket -- exactly the shuffles the
problem requires. Band buckets are md5 keys: uniformly distributed, no
skew. The candidate-pair join is a self-equi-join on bucket key; at
100 TB you bucket-partition by band key and AQE handles stragglers.

Reference has no dedup (SURVEY.md §2.8): its at-least-once delivery
makes duplicates *likely*; transaction-uuid dedup is the natural
upgrade (dropDuplicates / dropDuplicatesWithinWatermark).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xmidt_event_streams_spark.functions.text import fingerprint, word_ngrams


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the min-id representative per fingerprint.

    (groupBy-min rather than dropDuplicates so the survivor is
    deterministic -- dropDuplicates keeps an arbitrary row.)
    """
    return (
        df.withColumn("fingerprint", fingerprint(text_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
    )


def dedup_by_key(df: DataFrame, key_col: str = "transaction_uuid") -> DataFrame:
    """Reference-upgrade dedup: one row per delivery key (SURVEY.md
    §2.8; streaming twin is dropDuplicatesWithinWatermark)."""
    return df.dropDuplicates([key_col])


_MH_P = (1 << 31) - 1  # Mersenne prime: products stay < 2^62, no overflow

# normalize_text's explicit whitespace class as a SQL string literal:
# \uXXXX escapes ONLY -- the SQL parser silently drops the backslash
# from escapes it does not recognize (\f -> literal 'f'), and \s is
# dialect-dependent (SURVEY.md §7)
_WS_SQL = "[ \\u0009\\u000A\\u000B\\u000C\\u000D]+"


def _mh_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the universal hash family,
    derived from md5 so both engines can embed the same literals."""
    import hashlib

    def draw(tag: str, lo: int) -> int:
        return lo + int(hashlib.md5(tag.encode()).hexdigest()[:15], 16) % (
            _MH_P - lo
        )

    return [(draw(f"mh-a-{i}", 1), draw(f"mh-b-{i}", 0)) for i in range(num_hashes)]


def _minhash_base(s: Column) -> Column:
    """The single md5 draw per shingle: first 15 hex chars (60 bits)
    as a bigint, reduced mod P. Fixed-width numeric so downstream
    min-aggregates keep a mutable buffer (HashAggregate with map-side
    partials; min(string) would fall back to SortAggregate)."""
    return (
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint") % _MH_P
    )


def _minhash_term(i: int, base: Column, coeffs=None) -> Column:
    """Draw i of the universal family over the shared base draw:
    (a_i * base + b_i) mod P -- two bigint ops instead of an md5."""
    a, b = (coeffs or _mh_coeffs(i + 1))[i]
    return (F.lit(a) * base + F.lit(b)) % _MH_P


def minhash_signature(
    text: Column | str, num_hashes: int = 8, shingle_n: int = 3
) -> Column:
    """MinHash signature: array of ``num_hashes`` bigints in [0, P).

    hash_i(doc) = min over shingles of (a_i * base(shingle) + b_i)
    mod P, base = 60 bits of md5(shingle). The base array is
    materialized once (one md5 per shingle), then each draw is two
    bigint ops. Empty shingle set -> array of nulls (doc too short;
    callers filter).
    """
    from xmidt_event_streams_spark.functions.text import let_bind

    coeffs = _mh_coeffs(num_hashes)
    bases = F.transform(word_ngrams(text, shingle_n), _minhash_base)
    # let-bind the base array: referenced in num_hashes sub-expressions,
    # Catalyst would otherwise inline (and re-md5) it per hash
    return let_bind(
        bases,
        lambda bs: F.array(
            *[
                F.array_min(
                    F.transform(bs, lambda x: _minhash_term(i, x, coeffs))
                )
                for i in range(num_hashes)
            ]
        ),
    )


def minhash_band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """LSH banding: md5 over each contiguous signature slice ->
    array of ``bands`` bucket keys (band index baked into the key so
    buckets from different bands never collide)."""
    keys = []
    for b in range(bands):
        sl = F.slice(sig, b * rows_per_band + 1, rows_per_band)
        joined = F.concat_ws("|", F.transform(sl, lambda x: x.cast("string")))
        keys.append(F.md5(F.concat(F.lit(f"b{b}:"), joined)))
    return F.array(*keys)


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Signature relation (id, h0..h{k-1}) via explode + hash-agg.

    Shape matters at scale: computing k array_min(transform(...))
    columns inline duplicates the tokenize/shingle/md5 expression tree
    k x bands times (Catalyst's projection collapse inlines aliases),
    which measured ~400x slower at sf0.1. Exploding shingles once and
    projecting ONE md5 base draw per shingle row computes every md5
    exactly once; the k universal-hash draws are two bigint ops each,
    aggregated as mins that combine map-side and shuffle only
    (id, k mins). Bigint terms keep the aggregate on a fixed-width
    mutable buffer -> HashAggregate, no sort -- the plan that
    survives 100 TB.

    Docs with no shingles (fewer than shingle_n tokens) are absent
    from the output (they cannot be near-dup candidates).

    r10: the pipeline is built from SQL-text expressions
    (selectExpr / F.expr) instead of composed Column objects -- the
    expressions are identical (oracle- and equality-pinned), but the
    Column composition cost ~0.2 s of py4j round trips PER QUERY
    BUILD on the driver (one JVM call per operator node vs one parse
    per projection). Guide §5: the driver should do almost no work;
    a fifth of a second of plan-construction chatter per call is
    work. The whitespace class is spelled in \\uXXXX escapes because
    the SQL parser drops the backslash from escapes it does not know
    (\\f became a literal 'f' and stripped f's from every shingle --
    caught by the result-identity A/B, tests now pin it).
    """
    coeffs = _mh_coeffs(num_hashes)
    n = shingle_n
    # tokens()/normalize_text() in SQL text: same explicit whitespace
    # class (functions/text.py:62 -- \\s is dialect-dependent), same
    # empty-token filter, same n-gram window
    toks = (
        f"filter(split(trim(regexp_replace(lower(`{text_col}`), "
        f"'{_WS_SQL}', ' ')), ' '), t -> t != '')"
    )
    shingles = (
        f"CASE WHEN size(_toks) - {n - 1} >= 1 THEN "
        f"transform(sequence(1, size(_toks) - {n - 1}), "
        f"i -> concat_ws(' ', slice(_toks, i, {n}))) "
        f"ELSE cast(array() as array<string>) END"
    )
    shingled = (
        df.selectExpr(f"`{id_col}`", f"{toks} as _toks")
        .selectExpr(f"`{id_col}`", f"explode({shingles}) as _s")
        .selectExpr(
            f"`{id_col}`",
            f"cast(conv(substring(md5(_s), 1, 15), 16, 10) as bigint) "
            f"% {_MH_P} as x",
        )
    )
    return shingled.groupBy(id_col).agg(
        *[
            F.expr(f"min(({a} * x + {b}) % {_MH_P}) as h{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )


def minhash_signatures_kernel(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Signature relation (id, h0..h{k-1}) via ONE Arrow kernel --
    the r11 A/B candidate against :func:`minhash_signatures_df`
    (VERDICT r10 #3).

    Per Arrow batch: tokenize/shingle/md5 in Python (exact twins of
    the SQL expressions -- same explicit whitespace class, same
    space-trim, same 60-bit md5 base mod P; products stay < 2^62 so
    Python ints == JVM longs), then the k universal-hash mins as
    vectorized int64 passes (np.minimum.reduceat over the
    concatenated base array). Removes the shingle explode, the JVM
    md5 projection, and the partial/final hash-agg exchange -- the
    kernel emits one row per doc directly.

    Trade (guide §4): the full text column crosses the Python
    boundary once. At the test SFs the boundary is small and the
    stage-count saving dominates; at 100 TB the corpus-sized boundary
    transfer is the cost to weigh against the (already tiny,
    doc x k-row) aggregation exchange it removes -- see
    OPTIMIZATION_r11.md for the measured decision.

    Duplicate shingles are deduped before hashing (min() is
    idempotent over duplicates). Docs with no shingles are absent
    (same as the explode path). Case folding is ASCII-identical to
    the JVM/DuckDB lower() on the driver's corpus (the SQL path
    already leans on the same cross-engine lower() parity; pinned by
    the oracle row and the kernel-vs-SQL identity test)."""
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegralType

    # The kernel emits int64 ids: check the input schema here rather
    # than truncating a double id (1.7 -> 1) or failing on a string id
    # inside the Python worker.
    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, IntegralType):
        raise TypeError(
            f"minhash_signatures_kernel requires integral {id_col!r} ids "
            f"(got {id_type.simpleString()})"
        )

    coeffs = _mh_coeffs(num_hashes)
    n = shingle_n
    p = _MH_P
    ws = _re.compile("[ \t\n\x0b\x0c\r]+")
    out_schema = f"`{id_col}` bigint, " + ", ".join(
        f"h{i} bigint" for i in range(num_hashes)
    )

    def _sigs(batches):
        md5 = hashlib.md5
        sub = ws.sub
        for pdf in batches:
            ids_out: list[int] = []
            bases: list[int] = []
            starts: list[int] = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = [
                    t
                    for t in sub(" ", text.lower()).strip(" ").split(" ")
                    if t
                ]
                m = len(toks) - (n - 1)
                if m < 1:
                    continue
                shingles = {
                    " ".join(toks[i : i + n]) for i in range(m)
                }
                starts.append(len(bases))
                bases.extend(
                    (int.from_bytes(md5(s.encode()).digest()[:8], "big") >> 4)
                    % p
                    for s in shingles
                )
                ids_out.append(int(did))
            if not ids_out:
                continue
            base_arr = np.asarray(bases, dtype=np.int64)
            start_arr = np.asarray(starts, dtype=np.int64)
            cols = {id_col: np.asarray(ids_out, dtype=np.int64)}
            for i, (a, b) in enumerate(coeffs):
                cols[f"h{i}"] = np.minimum.reduceat(
                    (a * base_arr + b) % p, start_arr
                )
            yield pd.DataFrame(cols)

    return df.select(id_col, text_col).mapInPandas(_sigs, out_schema)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing >= 1 LSH band bucket.

    Plan: explode+agg signatures -> band keys -> explode -> self-join
    on bucket (shuffle on uniformly-distributed md5 keys) -> distinct
    pairs. Returns (id_a, id_b) with id_a < id_b.

    The self-join is hinted shuffle-hash: both sides then shuffle on
    the same canonical plan and the second side becomes a
    ReusedExchange -- the whole shingle/md5/agg pipeline runs ONCE
    (a broadcast join would rebuild it for the build side; at 100 TB
    the signature relation doesn't broadcast anyway).
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # r11: signatures via the Arrow kernel (bit-identical to
    # minhash_signatures_df -- pinned by
    # test_enrich_functions.test_minhash_kernel_matches_sql_pipeline;
    # measured 0.77 -> 0.51 s for the signature stage at sf0.1, whole
    # query 1.00 -> 0.88 interleaved). minhash_signatures_df remains
    # the JVM-only path (incremental dedup keeps it; values match
    # either way).
    sig = minhash_signatures_kernel(df, text_col, id_col, num_hashes, shingle_n)
    # SQL-text build for the same py4j-chatter reason as
    # minhash_signatures_df (expressions identical to the previous
    # Column composition; see that docstring)
    band_items = ", ".join(
        "md5(concat('b{b}:', concat_ws('|', {cols})))".format(
            b=b,
            cols=", ".join(
                f"cast(h{b * r + j} as string)" for j in range(r)
            ),
        )
        for b in range(bands)
    )
    keyed = sig.selectExpr(
        f"`{id_col}`", f"explode(array({band_items})) as bucket"
    )
    a = keyed.alias("a")
    b = keyed.hint("shuffle_hash").alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def simhash16(text: Column | str) -> Column:
    """16-bit SimHash as a bitstring.

    Per token: md5 -> 16 hex nibbles; bit_p(token) = high bit of
    nibble p (hex digit >= '8'). Doc bit_p = majority vote over
    tokens (>= 0 balance -> 1). Deterministic and portable: only
    md5, substring, and comparisons.
    """
    from xmidt_event_streams_spark.functions.text import let_bind, tokens

    def body(hashes: Column) -> Column:
        bits = []
        for p in range(1, 17):
            votes = F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(
                    F.substring(h, p, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"),
                    F.lit(1),
                ).otherwise(F.lit(-1)),
            )
            bits.append(F.when(votes >= 0, F.lit("1")).otherwise(F.lit("0")))
        return F.concat(*bits)

    # let-bind the md5'd token array: one tokenize+hash pass per row
    # shared by all 16 per-bit majority votes (was once per bit).
    return let_bind(F.transform(tokens(text), F.md5), body)


def simhash16_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash as a relation (id, simhash) via explode + hash-agg --
    the 16 per-bit majority votes become 16 sum() aggregates over one
    exploded token stream (each token md5'd once; map-side partials).
    Docs with zero tokens get the all-ones signature (empty majority
    >= 0), preserved via left join."""
    from xmidt_event_streams_spark.functions.text import tokens

    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
    hashed = tok.select(F.col(id_col), F.md5("t").alias("h"))
    hexhi = ("8", "9", "a", "b", "c", "d", "e", "f")
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.substring("h", p, 1).isin(*hexhi), 1).otherwise(-1)
            ).alias(f"v{p}")
            for p in range(1, 17)
        ]
    )
    sig = votes.select(
        F.col(id_col),
        F.concat(
            *[
                F.when(F.col(f"v{p}") >= 0, F.lit("1")).otherwise(F.lit("0"))
                for p in range(1, 17)
            ]
        ).alias("simhash"),
    )
    return (
        df.select(id_col)
        .join(sig, id_col, "left")
        .select(F.col(id_col), F.coalesce("simhash", F.lit("1" * 16)).alias("simhash"))
    )


def hamming_bitstr(a: Column, b: Column) -> Column:
    """Hamming distance between equal-length bitstrings."""
    return F.aggregate(
        F.zip_with(F.split(a, ""), F.split(b, ""),
                   lambda x, y: F.when(x != y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    bucket_cols: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    threshold: float = 0.0,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs within each bucket.

    Jaccard = |A ∩ B| / |A ∪ B| over *distinct* shingle sets.
    Bucketing (e.g. by lang/source, or by LSH band) keeps the pair
    blow-up bounded; the join shuffles on the bucket columns only.

    ``max_bucket_size`` bounds the per-bucket blow-up: only the first
    N docs per bucket (by ``id_col`` -- deterministic survivors)
    participate in pairing, so one skewed bucket costs at most
    N^2/2 comparisons instead of going quadratic in the bucket.
    Account for what the cap excluded with
    :func:`bucket_cap_drops` (pair it in any production job -- a
    silent cap reads as full coverage). The row_number shuffle
    partitions on the same keys as the pair join, so the cap adds no
    extra exchange of the big side.
    """
    sh = df.select(
        F.col(id_col),
        *[F.col(c) for c in bucket_cols],
        F.array_distinct(word_ngrams(text_col, shingle_n)).alias("sh"),
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*bucket_cols).orderBy(id_col)
        sh = (
            sh.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_bucket_size)
            .drop("_rn")
        )
    a, b = sh.alias("a"), sh.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in bucket_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    out = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def bucket_cap_drops(
    df: DataFrame,
    bucket_cols: tuple[str, ...],
    max_bucket_size: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-bucket counts of docs excluded by ``max_bucket_size`` --
    the drop ledger for the capped :func:`ngram_jaccard_pairs`.
    One hash-agg over the bucket keys; returns only buckets that
    actually dropped. Output: (bucket cols..., n_docs, n_dropped)."""
    return (
        df.groupBy(*[F.col(c) for c in bucket_cols])
        .agg(F.count(F.col(id_col)).alias("n_docs"))
        .withColumn(
            "n_dropped",
            F.greatest(F.lit(0), F.col("n_docs") - F.lit(max_bucket_size)),
        )
        .filter(F.col("n_dropped") > 0)
    )


def repeated_window_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    cross_doc_only: bool = True,
    winnow: int | None = None,
) -> DataFrame:
    """Exact-substring duplication ledger (the Lee et al. 2021 shape,
    arXiv:2107.06499: exact repeated spans degrade LMs more than
    near-dups): every ``window``-token sliding window whose content
    recurs elsewhere in the corpus, as (doc_id, pos, whash,
    n_occurrences) -- ``pos`` is the 1-based token offset, so callers
    can excise or down-weight exactly the duplicated spans instead of
    dropping whole documents.

    ``cross_doc_only`` counts only windows appearing in >1 distinct
    document (the training-contamination case); False also reports
    within-doc repeats (boilerplate).

    ``winnow=k`` is the 100 TB arm: winnowing fingerprint selection
    (Schleimer et al. 2003, the MOSS scheme) keeps only positions
    whose hash is minimal over the last k positions -- selection
    happens IN THE ARRAY DOMAIN before the explode, so the shuffled
    relation shrinks by ~(k+1)/2 with ZERO added shuffle (a window
    function over (doc, pos) would itself shuffle the full relation,
    defeating the point). Selection is content-defined: identical
    duplicated regions select identical fingerprints in every copy,
    so every duplicated span of >= window + k - 1 tokens is still
    GUARANTEED detected (the winnowing t = w + k - 1 theorem); spans
    shorter than that may be missed -- the ledger becomes a
    fingerprint sample, not the per-position census the exact arm
    gives. Ties in a frame keep all tied positions (ties are
    content-equal windows, deterministic in every copy).

    Plan shape: explode of the (possibly winnowed) window array (same
    cost class as the MinHash shingle explode), ONE md5 per window,
    hash-agg on the uniform md5 key, then a shuffle-hash self-join of
    the window relation against its >1-occurrence keys. Both sides
    shuffle on the same skew-free key; the exploded scan runs twice
    (the agg side's map-side partial combine changes its exchange
    payload, so Catalyst cannot reuse it) -- at 100 TB either accept
    2 scans of the token stream or persist the window relation
    between the two consumers. No all-pairs shape anywhere.
    """
    if winnow is None:
        # the SAME relation the excision consumers build -- one
        # definition (see _window_relation), so ledger and excision
        # can never de-sync on position/hash semantics
        wins = _window_relation(df, text_col, id_col, window)
    else:
        from xmidt_event_streams_spark.functions.text import let_bind

        if winnow < 1:
            raise ValueError(f"winnow must be >= 1, got {winnow}")
        k = winnow

        picked = let_bind(
            F.transform(word_ngrams(text_col, window), F.md5),
            lambda hs: _winnow_selected(hs, k),
        )
        wins = df.select(
            F.col(id_col), F.explode(picked).alias("s")
        ).select(
            F.col(id_col),
            F.col("s.pos").alias("pos"),
            F.col("s.whash").alias("whash"),
        )
    counts = wins.groupBy("whash").agg(
        F.count("*").alias("n_occurrences"),
        F.count_distinct(F.col(id_col)).alias("n_docs"),
    )
    hot = counts.filter(
        (F.col("n_docs") > 1) if cross_doc_only else (F.col("n_occurrences") > 1)
    )
    return wins.hint("shuffle_hash").join(hot, "whash").select(
        id_col, "pos", "whash", "n_occurrences"
    )


def duplicated_span_frac(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
) -> DataFrame:
    """Per-document fraction of window positions that are cross-doc
    exact repeats: (doc_id, n_windows, n_dup_windows, dup_frac).
    Docs shorter than ``window`` tokens have n_windows = 0 and
    dup_frac 0.0 (nothing to repeat). The quality-filter companion to
    :func:`repeated_window_spans` -- threshold dup_frac instead of
    excising spans."""
    wins_per_doc = df.select(
        F.col(id_col),
        F.size(word_ngrams(text_col, window)).alias("n_windows"),
    ).withColumn("n_windows", F.greatest("n_windows", F.lit(0)))
    dup = (
        repeated_window_spans(df, text_col, id_col, window)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_dup_windows"))
    )
    return (
        wins_per_doc.join(dup, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.when(
                    F.col("n_windows") > 0,
                    F.coalesce("n_dup_windows", F.lit(0))
                    / F.col("n_windows"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


def choose_lsh_params(
    threshold: float, max_hashes: int = 64
) -> tuple[int, int, int]:
    """(num_hashes, bands, rows_per_band) whose S-curve midpoint best
    matches the target Jaccard ``threshold``.

    Banding theory (Leskovec/Rajaraman/Ullman, Mining of Massive
    Datasets ch.3, public formulation): with b bands of r rows the
    probability a pair of Jaccard similarity s shares >= 1 band is
    1 - (1 - s^r)^b, an S-curve with midpoint ~ (1/b)^(1/r) and
    SHARPNESS growing with r (r=1 degenerates to a near-linear curve
    -- midpoint alone is a bad objective). Among factorizations
    b*r <= max_hashes whose midpoint lands within 0.02 of the target,
    picks the largest r (sharpest cutoff: fewest false positives
    below / misses above the threshold), tie-broken toward fewer
    total hashes; if nothing lands in tolerance, falls back to the
    closest midpoint with the largest r. Returns a config consumable
    by :func:`minhash_lsh_candidates` (num_hashes = b*r).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    tol = 0.02
    in_tol, fallback = None, None
    for r in range(1, max_hashes + 1):
        for b in range(1, max_hashes // r + 1):
            mid = (1.0 / b) ** (1.0 / r)
            dist = abs(mid - threshold)
            if dist <= tol:
                key = (-r, b * r, dist)
                if in_tol is None or key < in_tol[0]:
                    in_tol = (key, b, r)
            key = (dist, -r, b * r)
            if fallback is None or key < fallback[0]:
                fallback = (key, b, r)
    _, b, r = in_tol or fallback
    return b * r, b, r


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    cross_doc_only: bool = False,
    preserve_case: bool = False,
    min_occurrences: int = 2,
    keep_first: bool = True,
    touched_only: bool = False,
) -> DataFrame:
    """Exact-substring dedup that actually EXCISES the duplicated
    spans (Lee et al. 2021, arXiv:2107.06499 "ExactSubstr": remove
    every occurrence of a repeated substring except one) -- the
    consumer of the :func:`repeated_window_spans` ledger.

    ``min_occurrences``/``keep_first`` generalize the same machinery
    into a BOILERPLATE scrubber: ``min_occurrences=1000,
    keep_first=False`` cuts every occurrence of any span recurring a
    thousand times (cookie banners, nav chrome -- content no copy of
    which belongs in training text), while the defaults give the
    paper's keep-one dedup.

    Semantics: every ``window``-token sliding window whose content
    recurs elsewhere (``cross_doc_only=False`` counts within-doc
    repeats too -- the paper's setting) keeps its globally-first
    occurrence (min ``(doc_id, pos)``) and is cut everywhere else.
    Cut windows are merged into maximal intervals per document
    (overlap or adjacency), the covered tokens removed, and the
    document rebuilt from the surviving normalized tokens.

    Output: (doc_id, n_tokens, n_removed, clean_text) for EVERY input
    document -- untouched docs pass through with n_removed = 0 and
    clean_text = their normalized token stream; fully-duplicated docs
    come back with clean_text = ''. Downstream keeps provenance: the
    row count never changes, only the text shrinks.

    Plan shape (no all-pairs, no sort anywhere on the corpus-sized
    path): window relation = one explode + one md5 per window (shared
    tokenization with the ledger); ONE hash-agg on the uniform md5
    key yields both the >1-occurrence filter and the canonical
    min-(doc_id, pos) occurrence -- map-side combinable, so a
    boilerplate window occurring a billion times costs a constant
    per row instead of the per-partition sort a rank would need;
    interval merge is a per-document gaps-and-islands window
    (partition size <= tokens per doc); the token cut is an equi
    anti-join on the unique (doc_id, pos) key. Rebuild aggregates
    sorted (pos, token) structs per doc -- the same per-doc-length
    memory bound as tokenizing the document in the first place. At
    100 TB the token stream is scanned twice (window relation +
    rebuild); persist the token relation between the two consumers
    if the scan dominates.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if min_occurrences < 2:
        raise ValueError(
            f"min_occurrences must be >= 2, got {min_occurrences} "
            "(1 would cut every token with keep_first=False, and is "
            "identical to 2 with keep_first=True)"
        )
    wins = _window_relation(df, text_col, id_col, window)
    occurrence = (
        F.countDistinct(id_col) if cross_doc_only else F.count("*")
    )
    # keep-first WITHOUT a rank or a sort: one hash-agg yields both
    # the occurrence filter and the canonical occurrence. A
    # row_number over whash partitions would SORT each partition --
    # and a boilerplate window occurring 10^9 times makes that
    # partition a straggler; min(struct(id, pos)) is no better,
    # because structs are not valid hash-agg buffer types and Spark
    # silently falls back to a keyed SortAggregate (the same sort,
    # hidden in the agg -- tests/test_plan_invariants.py pins this).
    # For integral ids, pack (doc_id, pos) into ONE order-preserving
    # bigint (doc_id * 2^22 + pos: strictly lexicographic while
    # pos < 2^22, i.e. docs under ~4.2M tokens -- enforced with a
    # raise, never a silent corruption; |doc_id| must fit 2^41).
    # min(bigint) keeps the whole path on map-side-combinable
    # HashAggregates: hot keys cost a constant per input row.
    # Non-integral ids take the struct fallback and accept the
    # sort-agg.
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    integral = isinstance(
        df.schema[id_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    )
    if integral:
        _POS_BITS = 22
        _ID_BITS = 63 - _POS_BITS  # 41: shiftleft must not drop id bits

        def occ_key():
            return F.when(
                (F.col("pos") < F.lit(1 << _POS_BITS))
                & (
                    F.abs(F.col(id_col).cast("long"))
                    < F.lit(1 << _ID_BITS)
                ),
                F.shiftleft(F.col(id_col).cast("long"), _POS_BITS)
                + F.col("pos"),
            ).otherwise(
                F.raise_error(
                    f"keep-first packing would corrupt: document over "
                    f"2^{_POS_BITS} tokens or |{id_col}| >= "
                    f"2^{_ID_BITS} (dense re-key the ids, or use "
                    "string ids for the struct path)"
                )
            )

    else:

        def occ_key():
            return F.struct(F.col(id_col), F.col("pos"))

    hot = (
        wins.groupBy("whash")
        .agg(occurrence.alias("_n"), F.min(occ_key()).alias("_keep"))
        .filter(F.col("_n") >= F.lit(min_occurrences))
        .select("whash", "_keep")
    )
    hit = wins.join(hot, "whash")
    if keep_first:
        hit = hit.filter(occ_key() != F.col("_keep"))
    cut = hit.select(
        F.col(id_col),
        F.col("pos").alias("s"),
        (F.col("pos") + F.lit(window - 1)).alias("e"),
    )
    if touched_only:
        # rebuild only docs that actually have cuts: the corpus-sized
        # tokenize+shuffle+collect of the rebuild is the dominant cost
        # when few docs are touched, and replace-touched-only
        # consumers discard untouched rows anyway
        df = df.join(
            cut.select(id_col).distinct(), id_col, "left_semi"
        )
    return _excise_and_rebuild(df, cut, text_col, id_col, preserve_case)


def _winnow_selected(hs: Column, k: int) -> Column:
    """Winnowing selection (Schleimer et al. 2003) over an array of
    window hashes: position p is selected iff its hash is minimal in
    AT LEAST ONE window of k consecutive positions containing p (all
    ties kept). This is the rule the t = w + k - 1 guarantee needs:
    every k consecutive positions contribute >= 1 selection, so
    selected positions are <= k apart. (A trailing-frame-only rule --
    'min over the last k ending at p' -- selects NOTHING along an
    increasing hash run and silently misses whole spans; caught in
    the r5 review with counterexample hashes [0,5,9,8], k=3.)
    Shared by the ledger's winnow arm and the winnowed window index
    -- ONE definition, so their selections can never de-sync. Cost is
    O(k^2) comparisons per position with k in the single digits --
    still array-domain, no added shuffle."""

    def keep(h, i):
        # 1-based window starts q covering 0-based position i:
        # q in [i-k+2 .. i+1], clamped to valid starts [1 .. n-k+1]
        n = F.size(hs)
        q_lo = F.greatest(i - k + 2, F.lit(1))
        q_hi = F.least(i + 1, F.greatest(n - k + 1, F.lit(1)))
        return F.exists(
            F.sequence(q_lo, q_hi),
            lambda q: h == F.array_min(F.slice(hs, q, F.least(F.lit(k), n))),
        )

    return F.filter(
        F.transform(
            hs,
            lambda h, i: F.struct(
                (i + 1).alias("pos"),
                h.alias("whash"),
                keep(h, i).alias("keep"),
            ),
        ),
        lambda s: s["keep"],
    )


def _window_relation(
    df: DataFrame, text_col: str, id_col: str, window: int
) -> DataFrame:
    """(id, pos, whash): one md5 per ``window``-token sliding window,
    1-based token position -- the shared scan for the span ledger,
    the excision operators, and the benchmark scrub."""
    return df.select(
        F.col(id_col),
        F.posexplode(word_ngrams(text_col, window)).alias("p", "win"),
    ).select(
        F.col(id_col),
        (F.col("p") + 1).alias("pos"),
        F.md5("win").alias("whash"),
    )


def _excise_and_rebuild(
    df: DataFrame,
    cut: DataFrame,
    text_col: str,
    id_col: str,
    preserve_case: bool = False,
) -> DataFrame:
    """Merge cut intervals (id, s, e) into maximal per-doc islands,
    remove the covered tokens, and rebuild (doc_id, n_tokens,
    n_removed, clean_text) for EVERY input document.

    PRECONDITION: ``df`` is unique on ``id_col``. Duplicate ids
    interleave two documents' (pos, token) streams in the per-id
    rebuild and garble both; run this before any step that can
    introduce id collisions, or exact-dedup ids first.

    ``preserve_case=True`` rebuilds from the CASED token stream
    (position-aligned with the normalized one -- lowercasing never
    moves token boundaries), so matching stays case-insensitive but
    the surviving text keeps its original case: the corpus-build
    setting, where rewriting untouched text would be destructive.

    Interval merge is a per-document gaps-and-islands window
    (partition size <= tokens per doc); the token cut is an equi
    anti-join on the unique (doc_id, pos) key; rebuild aggregates
    sorted (pos, token) structs per doc -- the same per-doc-length
    memory bound as tokenizing the document in the first place.
    """
    from pyspark.sql import Window
    from xmidt_event_streams_spark.functions.text import (
        cased_tokens,
        tokens,
    )

    tokenizer = cased_tokens if preserve_case else tokens
    tok = df.select(
        F.col(id_col),
        F.posexplode_outer(tokenizer(text_col)).alias("p", "tok"),
    ).select(F.col(id_col), (F.col("p") + 1).alias("pos"), "tok")

    # gaps-and-islands: merge overlapping/adjacent cut intervals
    by_doc = Window.partitionBy(id_col).orderBy("s")
    prev_max_e = F.max("e").over(
        by_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = cut.withColumn(
        "_new",
        F.when(
            prev_max_e.isNull() | (F.col("s") > prev_max_e + 1), 1
        ).otherwise(0),
    ).withColumn(
        "_iid",
        F.sum("_new").over(
            by_doc.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    covered = (
        islands.groupBy(id_col, "_iid")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .select(
            F.col(id_col),
            F.explode(F.sequence("s", "e")).alias("pos"),
        )
    )
    kept = tok.filter(F.col("tok").isNotNull()).join(
        covered, [id_col, "pos"], "left_anti"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda st: st["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = tok.groupBy(id_col).agg(
        F.count("tok").alias("n_tokens")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            (
                F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0))
            ).alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def remove_contaminated_spans(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    window: int = 13,
    broadcast_benchmark: bool = True,
    preserve_case: bool = False,
    touched_only: bool = False,
    fixpoint: bool = False,
    max_passes: int = 16,
) -> DataFrame:
    """Benchmark n-gram scrub (the GPT-3 appendix-C / PaLM
    decontamination shape, arXiv:2005.14165 §4: remove every corpus
    span whose ``window``-gram content appears in an evaluation set --
    span-level surgery instead of dropping whole documents, so one
    quoted benchmark sentence doesn't cost an entire web page).

    Every corpus window whose hash matches ANY benchmark window is
    cut (no keep-first: benchmark content must not survive anywhere);
    cut windows merge into maximal intervals and the covered tokens
    are removed. Output is the same contract as
    :func:`remove_duplicate_spans`: (doc_id, n_tokens, n_removed,
    clean_text) for every corpus document, row count preserved --
    unless ``touched_only=True``, which returns ONLY documents with
    cuts and skips the corpus-sized rebuild for everything else (the
    replace-touched-only consumers' setting). Documents must be
    unique on ``id_col``: duplicate ids interleave token streams in
    the rebuild and garble both copies.

    **Excision is not idempotent**: removing a span can STITCH the
    surviving neighbors into a fresh occurrence of a benchmark
    window ('a b c d a b c d e e' scrubbed of 'a b c d e' leaves
    exactly 'a b c d e'). ``fixpoint=True`` re-scrubs the touched
    documents until none matches (each pass strictly shrinks every
    still-matching doc, so termination is guaranteed; ``max_passes``
    is a loud safety valve, not a silent cap). Takedown-grade
    consumers (takedown_phrases, span_scrub_gate, the corpus-build
    stage) run fixpoint; the single pass is the documented
    Lee-et-al-style approximation the oracle twin checks.

    Complements :func:`~xmidt_event_streams_spark.operators.incremental.decontaminate_near_dups`
    (whole-doc near-dup verdicts): run the near-dup pass for documents
    that ARE the benchmark, this pass for documents that QUOTE it.

    Plan shape: the benchmark side reduces to its distinct window
    hashes -- eval sets are small by nature, so the default broadcasts
    them and the corpus NEVER shuffles (scan -> explode -> broadcast
    semi-join -> per-doc windows). ``broadcast_benchmark=False`` falls
    back to a shuffle semi-join on the uniform md5 key for
    benchmark-sized "benchmarks". The excise/rebuild tail shares
    :func:`_excise_and_rebuild` (per-doc-bounded windows, equi
    anti-join on (doc_id, pos)). Fixpoint passes beyond the first run
    over the still-contaminated rows only (localCheckpointed per
    round: bounded rows, truncated lineage).
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    # no id needed on the benchmark side -- just its distinct hashes
    bench_hashes = (
        benchmark.select(
            F.explode(
                word_ngrams(bench_text_col or text_col, window)
            ).alias("win")
        )
        .select(F.md5("win").alias("whash"))
        .distinct()
    )
    if broadcast_benchmark:
        bench_hashes = F.broadcast(bench_hashes)
    return _scrub_to_fixpoint(
        df,
        lambda wins: bench_hashes,
        window,
        text_col,
        id_col,
        preserve_case,
        touched_only,
        fixpoint,
        max_passes,
    )


def _scrub_to_fixpoint(
    df: DataFrame,
    hash_lookup,
    window: int,
    text_col: str,
    id_col: str,
    preserve_case: bool,
    touched_only: bool,
    fixpoint: bool,
    max_passes: int,
) -> DataFrame:
    """The shared scrub engine. ``hash_lookup(wins)`` maps this
    pass's window relation to the whash set to cut -- a static
    benchmark hash relation for :func:`remove_contaminated_spans`, an
    index probe for the incremental window index (re-evaluated EVERY
    fixpoint pass: stitched windows can match history that the
    original batch's windows never touched)."""

    def _one_pass(frame: DataFrame, only_touched: bool) -> DataFrame:
        wins = _window_relation(frame, text_col, id_col, window)
        cut = wins.join(hash_lookup(wins), "whash", "left_semi").select(
            F.col(id_col),
            F.col("pos").alias("s"),
            (F.col("pos") + F.lit(window - 1)).alias("e"),
        )
        if only_touched:
            frame = frame.join(
                cut.select(id_col).distinct(), id_col, "left_semi"
            )
        return _excise_and_rebuild(
            frame, cut, text_col, id_col, preserve_case
        )

    first = _one_pass(df, touched_only)
    if not fixpoint:
        return first
    if touched_only:
        # the first-pass plan spans the whole corpus and is consumed
        # 2-3x below (loop seed + final union); with touched_only its
        # OUTPUT is small, so materialize once and hand every
        # consumer a leaf. (Without touched_only the output is
        # corpus-sized -- recompute beats materializing it.)
        first = first.localCheckpoint(eager=True)

    # iterate the TOUCHED docs to a fixpoint; each round's pending
    # set strictly shrinks in tokens, so this terminates
    cur = first.filter(F.col("n_removed") > 0).select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("n_removed").alias("_cum"),
        F.col("clean_text"),
    ).localCheckpoint(eager=True)
    done = []
    for _ in range(max_passes):
        if not cur.take(1):
            break
        nxt = _one_pass(
            cur.withColumnRenamed("clean_text", text_col).select(
                id_col, text_col
            ),
            False,
        )
        merged = (
            cur.select(id_col, "n_tokens", "_cum")
            .join(
                nxt.select(
                    F.col(id_col),
                    F.col("n_removed").alias("_new"),
                    "clean_text",
                ),
                id_col,
            )
            .withColumn("_cum", F.col("_cum") + F.col("_new"))
            .localCheckpoint(eager=True)
        )
        done.append(
            merged.filter(F.col("_new") == 0).select(
                F.col(id_col),
                "n_tokens",
                F.col("_cum").alias("n_removed"),
                "clean_text",
            )
        )
        cur = merged.filter(F.col("_new") > 0).select(
            id_col, "n_tokens", "_cum", "clean_text"
        )
    else:
        if cur.take(1):
            raise RuntimeError(
                f"scrub did not reach a fixpoint in {max_passes} "
                "passes; raise max_passes (every pass strictly "
                "shrinks the pending docs, so this converges)"
            )
    out = first.filter(F.col("n_removed") == 0)
    for d in done:
        out = out.unionByName(d)
    if touched_only:
        out = out.filter(F.col("n_removed") > 0)
    return out


def apply_clean_text(
    df: DataFrame,
    scrubbed: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Replace-touched-only rewrite: join an excision output
    (id, n_removed, clean_text) back onto the caller's full rows --
    touched docs get the rebuilt text, untouched rows keep their
    EXACT original bytes (never the whitespace-collapsed rebuild).
    The one definition shared by the corpus-build stages, the
    streaming scrub gate, and phrase takedown."""
    touched = scrubbed.filter(F.col("n_removed") > 0).select(
        F.col(id_col),
        F.col("clean_text").alias("_xes_clean_text"),
    )
    return (
        df.join(touched, id_col, "left")
        .withColumn(
            text_col,
            F.coalesce(F.col("_xes_clean_text"), F.col(text_col)),
        )
        .drop("_xes_clean_text")
    )
