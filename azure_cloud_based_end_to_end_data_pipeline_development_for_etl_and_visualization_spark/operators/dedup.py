"""Deduplication operator family over document tables.

North-star extensions (SURVEY.md 2.8 / BASELINE.json north star): exact
dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard. All are expressed as
DataFrame pipelines over JVM built-ins (explode -> hash -> groupBy -> join);
no Python UDFs, so every stage is whole-stage-codegen'd and shuffles only on
compact keys.

Scale design (the 100 TB story):

- exact dedup = hash-groupBy on a fingerprint: shuffles 16-byte digests,
  not documents.
- MinHash: one explode over shingles, ONE shuffle (groupBy doc) producing a
  k-integer signature per doc; LSH banding turns all-pairs comparison into
  equality self-joins on band buckets — candidate pairs only, never n^2.
- SimHash: 32 conditional sums per doc in a single aggregation pass;
  near-pair detection via band-equality join + popcount(xor) filter.
- verification joins (true Jaccard) run only on the candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as TX

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, on: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the minimum-id row per duplicate group.

    Deterministic alternative to ``dropDuplicates`` (which keeps an
    arbitrary row per group and is therefore not oracle-checkable).
    Returns ``on`` + ``id_col`` (the kept id) + ``n_copies``."""
    return df.groupBy(*on).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_copies"),
    )


def dedup_exact_by_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on a normalized md5 fingerprint — at scale this shuffles
    digests instead of full documents."""
    fp = df.select(
        F.col(id_col), TX.fingerprint(F.col(text_col)).alias("fingerprint")
    )
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """k-wide MinHash signature per document over word n-gram shingles.

    Pipeline: tokenize (own projection) -> shingle -> explode -> md5-based
    32-bit hash -> k universal hashes -> MIN-aggregate. One shuffle, on
    ``id_col``. Documents with fewer than ``shingle_n`` tokens are dropped
    (no shingles, no signature) — callers union them back via exact dedup
    if needed."""
    tok = df.select(F.col(id_col), TX.tokens(F.col(text_col)).alias("__toks"))
    shingled = tok.select(
        F.col(id_col),
        F.explode(TX.shingles_of(F.col("__toks"), shingle_n)).alias("shingle"),
    )
    hashed = shingled.select(
        id_col, TX.hash32(F.col("shingle")).alias("h")
    ).select(id_col, *TX.minhash_exprs("h", k))
    return hashed.groupBy(id_col).agg(
        *[F.min(f"mh{i}").alias(f"mh{i}") for i in range(k)]
    )


def materialized_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    k: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Compute minhash signatures ONCE, persist them as a compact parquet
    artifact, and return the reread frame.

    Why this exists: every downstream consumer of signatures references
    the frame several times (LSH banding self-joins its two sides;
    estimation joins it back per pair endpoint), and Spark re-evaluates
    the tokenize->shingle->hash pipeline for each reference — 3-4 full
    text scans where one suffices. In a production near-dup pipeline the
    signature table IS a first-class artifact (computed per corpus
    snapshot, reused across banding configs); materializing it turns
    every re-reference into a scan of k longs per doc instead of the
    corpus text."""
    sigs = minhash_signatures(df, id_col, text_col, k=k, shingle_n=shingle_n)
    sigs.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """LSH banding: split the k-wide signature into ``bands`` bands of
    ``k // bands`` rows; documents agreeing on *all* rows of any band become
    a candidate pair.

    Physical shape: unpivot to (band_id, bucket, doc) — bucket is the
    band's value vector itself — then a self-equi-join per bucket. The
    join key is (band_id, bucket), so Spark shuffles only small tuples
    (band_id + r longs) and never compares documents across different
    buckets. Using the values rather than a hash of them keeps the
    operator collision-free AND oracle-checkable: DuckDB reproduces the
    same pairs from the same md5-based minhashes (catalog ORACLES
    q_minhash_lsh_pairs). Output: distinct ``(a, b)`` with a < b."""
    r = k // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * r + i}") for i in range(r)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"), F.array(*cols).alias("bucket"))
        )
    buckets = signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, "bb.band_id", "bb.bucket")

    left = buckets.alias("l")
    right = buckets.alias("r")
    pairs = left.join(
        right,
        (F.col("l.band_id") == F.col("r.band_id"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
    )
    return pairs.distinct()


def hashed_shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sh) frame of xxhash64'd distinct shingle sets — the
    verification-side artifact. Callers running SEVERAL verification
    passes over the same corpus (e.g. the q_lsh_band_sweep configs)
    should materialize this once to parquet and pass it to
    :func:`jaccard_pairs` via ``sets`` — each re-reference otherwise
    re-runs tokenize->shingle->hash over the full corpus."""
    tok = df.select(F.col(id_col), TX.tokens(F.col(text_col)).alias("__toks"))
    return tok.select(
        F.col(id_col),
        F.transform(
            F.array_distinct(TX.shingles_of(F.col("__toks"), shingle_n)),
            lambda s: F.xxhash64(s),
        ).alias("sh"),
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    sets: DataFrame | None = None,
) -> DataFrame:
    """True Jaccard similarity (distinct word n-gram shingles) for given
    candidate ``(a, b)`` pairs — the verification stage after LSH.

    Shingles are xxhash64'd to longs before the array intersect/union:
    set SIZES — hence every Jaccard value — are unchanged short of a
    64-bit collision (~1e-11 at 10^5 distinct shingles), and primitive
    long comparisons beat ~13-char string comparisons in the
    per-candidate set ops (q_prefix_filter_join's 400k-candidate verify
    measured 3x faster at sf0.1: 13.0 s -> 4.2 s). The DuckDB oracles
    keep comparing raw shingle strings — sizes agree, so hashes still
    match."""
    sets_df = (
        sets
        if sets is not None
        else hashed_shingle_sets(df, id_col, text_col, shingle_n)
    )
    a = sets_df.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    b = sets_df.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return joined.select(
        "a", "b",
        (inter.cast("double") / union).alias("jaccard"),
    )


def containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """ASYMMETRIC containment for candidate ``(a, b)`` pairs:
    ``C(a,b) = |sh(a) ∩ sh(b)| / |sh(a)|`` and the mirror ``C(b,a)`` —
    the subset/superset detector Jaccard misses: a document quoted
    whole inside a larger one has low Jaccard (the union is large) but
    containment ~1 in one direction, which is exactly the
    quote/expansion near-dup class training-corpus dedup wants to
    catch (Broder's containment, alongside resemblance). Same
    long-hashed shingle-set machinery as :func:`jaccard_pairs` (sizes
    are hash-invariant, so DuckDB oracles comparing raw strings still
    hash-match). Empty shingle sets (docs shorter than n tokens) yield
    NULL containment on that side rather than a division error."""
    tok = df.select(F.col(id_col), TX.tokens(F.col(text_col)).alias("__toks"))
    sets_df = tok.select(
        F.col(id_col),
        F.transform(
            F.array_distinct(TX.shingles_of(F.col("__toks"), shingle_n)),
            lambda s: F.xxhash64(s),
        ).alias("sh"),
    )
    a = sets_df.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    b = sets_df.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    c_of = lambda side: F.when(  # noqa: E731
        F.size(F.col(side)) > 0,
        inter.cast("double") / F.size(F.col(side)),
    )
    return joined.select(
        "a", "b",
        c_of("sh_a").alias("containment_ab"),
        c_of("sh_b").alias("containment_ba"),
    )


def ngram_containment_windowed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    window: int = 100,
    shingle_n: int = 3,
) -> DataFrame:
    """Blocked containment scan: :func:`containment_pairs` over the same
    narrow (block, id)-window candidate generation as
    :func:`ngram_jaccard_windowed` — deterministic and SQL-expressible
    (oracle-checked); at unblocked scale the LSH candidates feed
    :func:`containment_pairs` directly."""
    narrow = df.select(F.col(block_col).alias("blk"), F.col(id_col))
    pairs = (
        narrow.select(F.col("blk"), F.col(id_col).alias("a"))
        .join(narrow.select(F.col("blk"), F.col(id_col).alias("b")), "blk")
        .filter((F.col("a") < F.col("b")) & (F.col("b") - F.col("a") <= window))
        .select("a", "b")
    )
    return containment_pairs(df, pairs, id_col, text_col, shingle_n=shingle_n)


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    sig_path: str | None = None,
) -> DataFrame:
    """Full near-dup pipeline: MinHash -> LSH candidates -> Jaccard verify
    -> pairs above threshold.

    With ``sig_path`` set, signatures are materialized once
    (:func:`materialized_signatures`) before banding self-joins them —
    at corpus scale this replaces two re-runs of the
    tokenize->shingle->hash pipeline with scans of k longs per doc."""
    if sig_path is not None:
        sigs = materialized_signatures(
            df, id_col, text_col, sig_path, k=k, shingle_n=shingle_n
        )
    else:
        sigs = minhash_signatures(df, id_col, text_col, k=k, shingle_n=shingle_n)
    cands = lsh_candidate_pairs(sigs, id_col, k=k, bands=bands)
    verified = jaccard_pairs(df, cands, id_col, text_col, shingle_n=shingle_n)
    return verified.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per document: per-bit weighted sums of token hashes.

    bit_i(doc) = 1 iff sum over tokens of (+1 if bit i of hash32(token) else -1) > 0.
    Single aggregation pass: 32 conditional SUMs, all codegen'd."""
    toks = df.select(
        F.col(id_col), F.explode(TX.tokens(F.col(text_col))).alias("tok")
    ).select(id_col, TX.hash32(F.col("tok")).alias("h"))
    bit_sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bit_sums.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_near_pairs(
    sims: DataFrame, id_col: str, max_hamming: int = 3, chunks: int = 4
) -> DataFrame:
    """Near-pairs by SimHash: band the 32-bit hash into ``chunks`` 8-bit
    chunks (pigeonhole: hamming <= chunks-1 implies an equal chunk), join on
    chunk equality, verify with popcount(xor) <= max_hamming."""
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk_id"),
            F.shiftright(F.col("simhash"), c * width).bitwiseAND(mask).alias("chunk"),
        )
        for c in range(chunks)
    ]
    buckets = sims.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*chunk_structs)).alias("cc")
    ).select(id_col, "simhash", "cc.chunk_id", "cc.chunk")
    l, r = buckets.alias("l"), buckets.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.chunk_id") == F.col("r.chunk_id"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.distinct()


# ---------------------------------------------------------------------------
# bounded-window n-gram Jaccard (oracle-checkable variant)
# ---------------------------------------------------------------------------


def banded_id_pairs(
    df: DataFrame,
    id_col: str,
    block_col: str,
    window: int,
) -> DataFrame:
    """Candidate ``(a, b)`` pairs within a blocking column and a bounded id
    distance ``0 < b - a <= window``, enumerated LINEARLY.

    Joining on the block column alone and filtering the id band as a
    residual predicate is quadratic WORK per block (the SMJ buffers
    enumerate every in-block pair before the band filter drops them) and
    maximal SKEW (the whole table lands on n_blocks reducer keys) — fine
    at sf0.1, a non-starter at 100 TB. This is the range-join
    bucketization rewrite (``..operators.range_join``) on the id axis:

    - ``b`` rows get ONE bucket key ``b div window``;
    - ``a`` rows explode to TWO candidate buckets ``a div window`` and
      ``a div window + 1`` — since ``0 < b - a <= window``, b's bucket is
      always one of the two;
    - the join is an equi-join on ``(block, bucket)`` — high-cardinality
      keys, per-key work bounded by 2*window rows — with the exact band
      predicate applied inside the same hash join.

    Each qualifying pair meets exactly once (in b's unique bucket), so no
    post-join dedup is needed and the output is byte-identical to the
    block-only formulation. Ids may be ANY integral values, negative
    included: the bucket is the exact FLOOR division
    ``(id - pmod(id, w)) div w`` — ``pmod`` is non-negative for every
    sign, so the numerator is an exact multiple of ``w`` and the integer
    ``div`` equals floor(id/w) in pure long arithmetic (no double
    round-trip, exact to the full long range). The two-bucket proof
    (``0 < b - a <= w  =>  floor(b/w) in {floor(a/w), floor(a/w)+1}``)
    holds for floor division over all integers. The id column is aliased
    to an internal name before any expression touches it, so non-simple
    column names (spaces, keywords) are safe."""
    w = int(window)
    if w <= 0:
        raise ValueError(f"window must be positive (got {window})")
    narrow = df.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("__id")
    )
    # exact floor division in long arithmetic; `div` has no Column
    # operator, but the operands are fixed internal aliases + a literal,
    # so the expr is injection-safe regardless of the caller's column name
    bkt = F.expr(f"(__id - pmod(__id, {w})) div {w}").cast("long")
    b_side = narrow.select(
        "blk", F.col("__id").alias("b"), bkt.alias("__bkt")
    )
    a_side = narrow.select(
        "blk",
        F.col("__id").alias("a"),
        F.explode(F.array(bkt, bkt + F.lit(1))).alias("__bkt"),
    )
    return (
        a_side.join(b_side, ["blk", "__bkt"])
        .filter((F.col("a") < F.col("b")) & (F.col("b") - F.col("a") <= w))
        .select("a", "b")
    )


def ngram_jaccard_windowed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    window: int = 5,
    shingle_n: int = 3,
) -> DataFrame:
    """Jaccard over word n-grams for pairs within a blocking column and a
    bounded id distance — a deterministic, SQL-expressible near-dup scan
    (the driver oracle covers this one; the LSH pipeline above is the
    at-scale path for unblocked corpora).

    Plan shape: candidates come from :func:`banded_id_pairs` — a linear
    ``(block, id-bucket)`` equi-join over NARROW (block, id) rows; the
    full pair space never carries shingle arrays; arrays attach to the
    surviving pairs only (two id-equi-joins). Measured 8x faster than
    joining array-carrying rows directly at sf0.1."""
    pairs = banded_id_pairs(df, id_col, block_col, window)
    return jaccard_pairs(df, pairs, id_col, text_col, shingle_n=shingle_n)


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    index_path: str | None = None,
) -> DataFrame:
    """Prefix-filtered set-similarity self-join (the SSJoin / PPJoin
    candidate-generation family, Chaudhuri et al. ICDE'06, Xiao et al.
    WWW'08): EXACT all-pairs Jaccard >= ``threshold`` over word-n-gram
    shingle sets, without blocking assumptions (ngram_jaccard_windowed)
    and without the probabilistic misses of MinHash banding — the
    completeness-guaranteed rung of the near-dup ladder.

    The filter: order every document's shingles by one GLOBAL total
    order (document frequency ascending, shingle ascending — rarest
    first), and index only each doc's first ``n - ceil(t*n) + 1``
    shingles. Pigeonhole: J(A,B) >= t implies |A∩B| >= t*max(|A|,|B|),
    so a prefix that missed every intersection element would leave more
    intersection than suffix — impossible; any qualifying pair shares a
    PREFIX shingle and survives candidate generation. Rarest-first
    ordering pushes the corpus-hot shingles (the worst join fan-out)
    into suffixes, so the candidate join runs over the sparse end of
    the inverted index.

    Plan shape at 100 TB: the document-frequency table is a
    shingle-bounded aggregate artifact; ranking is a per-doc window
    (bounded by doc length); the candidate self-join is an equi-join on
    the PRUNED inverted index carrying (shingle, id, pos, n) rows only —
    at t=0.5 half the index, at t=0.9 a tenth — and shingle arrays
    attach post-filter to the deduped candidate pairs alone
    (:func:`jaccard_pairs`), never to the pair space. Pass
    ``index_path`` to materialize the pruned index once (the signatures
    lesson): the self-join references it twice, and without
    materialization each side re-runs the tokenize->shingle->rank
    pipeline (16.2 s -> 13.0 s at sf0.1; with the hashed verify below
    the end-to-end query lands at ~4.2 s).

    PPJoin's two candidate prunes (Xiao et al. WWW'08 §3.2) run INSIDE
    the candidate join, before any pair reaches verification — both are
    completeness-preserving, so the output (and the UNFILTERED-index
    oracle hash) is unchanged:

    - LENGTH filter: ``J(A,B) >= t`` forces
      ``min(|A|,|B|) >= t * max(|A|,|B|)`` (the overlap is at most the
      smaller set, the union at least the larger) — applied as a
      residual predicate in the shingle equi-join, dropping cross-size
      candidates before the dedup shuffle.
    - POSITIONAL filter: for the MIN-RANK shared prefix shingle of a
      pair (positions ``pa`` in A, ``pb`` in B under the one global
      order), every common shingle has rank >= its rank — a common
      shingle of smaller rank would sit at smaller positions in BOTH
      docs, hence inside both prefixes, contradicting minimality — so
      the total overlap is bounded by ``1 + min(|A|-pa, |B|-pb)``.
      ``J >= t`` needs overlap ``>= t/(1+t) * (|A|+|B|)``; pairs whose
      bound can't reach that are dropped. Because positions increase
      with rank on BOTH sides, the min-rank shared token is exactly
      (min pa, min pb), so the filter is one groupBy(a,b) aggregate —
      the same shuffle the old ``.distinct()`` already paid.

    Measured at sf0.1 (documents table, t=0.5): 409,103 raw candidate
    pairs -> 309,803 after the length prune -> 124,979 after both
    (-69%), byte-identical output (oracle hash unchanged)."""
    tok = df.select(F.col(id_col), TX.tokens(F.col(text_col)).alias("__toks"))
    inv = tok.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(TX.shingles_of(F.col("__toks"), shingle_n))
        ).alias("shingle"),
    )
    freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w_rank = Window.partitionBy(id_col).orderBy("__df", "shingle")
    w_all = Window.partitionBy(id_col)
    ranked = inv.join(freq, "shingle").select(
        F.col(id_col),
        F.col("shingle"),
        F.row_number().over(w_rank).alias("__pos"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
    )
    prefix = ranked.filter(
        F.col("__pos")
        <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    ).select(F.col(id_col), F.col("shingle"), F.col("__pos"), F.col("__n"))
    if index_path is not None:
        prefix.write.mode("overwrite").parquet(index_path)
        prefix = df.sparkSession.read.parquet(index_path)
    t = float(threshold)
    # completeness-safe float slack: both prunes only ever DROP pairs the
    # exact verification below would drop anyway, so the epsilon errs
    # toward keeping (false positives cost one jaccard evaluation;
    # false negatives would cost correctness)
    eps = 1e-9
    a_ix = prefix.select(
        "shingle",
        F.col(id_col).alias("a"),
        F.col("__pos").alias("__pa"),
        F.col("__n").alias("__na"),
    )
    b_ix = prefix.select(
        "shingle",
        F.col(id_col).alias("b"),
        F.col("__pos").alias("__pb"),
        F.col("__n").alias("__nb"),
    )
    cands = (
        a_ix.join(b_ix, "shingle")
        .filter(F.col("a") < F.col("b"))
        # PPJoin length filter: min(|A|,|B|) >= t * max(|A|,|B|)
        .filter(
            F.least("__na", "__nb").cast("double")
            >= F.lit(t) * F.greatest("__na", "__nb").cast("double") - F.lit(eps)
        )
        # one row per pair, carrying the MIN-RANK shared prefix token's
        # positions (positions increase with rank on both sides, so the
        # two mins name the same token); this groupBy replaces the old
        # .distinct() — same shuffle, plus the positional bound for free
        .groupBy("a", "b")
        .agg(
            F.min("__pa").alias("__pa"),
            F.min("__pb").alias("__pb"),
            F.min("__na").alias("__na"),
            F.min("__nb").alias("__nb"),
        )
        # PPJoin positional filter: overlap <= 1 + min(|A|-pa, |B|-pb)
        # must reach the Jaccard-equivalent overlap t/(1+t)*(|A|+|B|)
        .filter(
            (
                F.lit(1)
                + F.least(
                    F.col("__na") - F.col("__pa"),
                    F.col("__nb") - F.col("__pb"),
                )
            ).cast("double")
            >= F.lit(t / (1.0 + t)) * (F.col("__na") + F.col("__nb")).cast("double")
            - F.lit(eps)
        )
        .select("a", "b")
    )
    return jaccard_pairs(df, cands, id_col, text_col, shingle_n=shingle_n).filter(
        F.col("jaccard") >= F.lit(threshold)
    )


# ---------------------------------------------------------------------------
# chunk-level (pseudo-paragraph) exact dedup
# ---------------------------------------------------------------------------


def chunk_dedup(
    df: DataFrame, id_col: str, text_col: str, chunk_tokens: int = 10
) -> DataFrame:
    """Exact dedup at sub-document granularity: split each document into
    non-overlapping ``chunk_tokens``-word chunks (pseudo-paragraphs for
    corpora without layout) and group identical chunks corpus-wide —
    the paragraph-dedup pass training pipelines run *before* document-level
    near-dup, since boilerplate repeats at paragraph scale, not document
    scale.

    Returns one row per distinct chunk: ``(chunk_hash, n_copies,
    first_doc, first_chunk)`` where first_* identify the lexicographically
    smallest (doc, position) occurrence — deterministic, so oracle-checkable.

    Scale shape: explode multiplies rows by ~tokens/chunk_tokens but each
    exploded row is one md5 digest + two longs (the chunk text itself is
    hashed away before the shuffle); the single groupBy shuffles 16-byte
    digests with map-side partial aggregation. Same 100 TB story as
    :func:`dedup_exact_by_fingerprint`, one level down."""
    toks = df.select(F.col(id_col), TX.tokens(F.col(text_col)).alias("__toks"))
    n = F.lit(chunk_tokens)
    idx = F.sequence(F.lit(0), F.floor((F.size("__toks") - 1) / n).cast("int"))
    chunks = toks.select(
        F.col(id_col),
        F.explode(idx).alias("__i"),
        F.col("__toks"),
    ).select(
        F.col(id_col),
        F.col("__i"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__i") * n + 1, n))
        ).alias("chunk_hash"),
    )
    return chunks.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min(F.struct(F.col(id_col), F.col("__i"))).alias("__first"),
    ).select(
        "chunk_hash",
        "n_copies",
        F.col("__first")[id_col].alias("first_doc"),
        F.col("__first")["__i"].cast("long").alias("first_chunk"),
    )


# ---------------------------------------------------------------------------
# exact substring duplication (suffix-array-class, Lee et al. 2022)
# ---------------------------------------------------------------------------


def substring_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 12,
    hash_grams: bool = False,
    witness: bool = False,
) -> DataFrame:
    """Maximal exactly-duplicated token spans of length >= ``min_tokens``
    per document — the distributed answer to the suffix-array substring
    dedup of Lee et al. 2022 ('Deduplicating Training Data Makes
    Language Models Better'), the one dedup rung document-level
    fingerprints (exact/MinHash/SimHash) cannot see: a boilerplate
    paragraph pasted into otherwise-distinct documents.

    Semantics (exact, not approximate): a token position is *covered*
    iff it lies inside some substring of >= ``min_tokens`` tokens that
    occurs >= 2 times in the corpus (any document, any position —
    within-document repeats count, as in Lee et al.). A substring of
    length M >= L occurring twice makes all of its L-token windows
    duplicated, and a duplicated L-window is itself such a substring —
    so the covered set EQUALS the union of duplicated L-gram extents,
    and the spans returned here are its maximal intervals. This is the
    same span set a suffix array would report, computed with joins:

    - one posexplode of L-token shingles: ``(doc, pos, gram)``;
    - duplicated-gram marking via a count window partitioned by the
      gram key (high cardinality — tiny partitions, one shuffle; with
      ``hash_grams`` the key is ``xxhash64(gram)``, so 8-byte longs
      shuffle instead of ~6L-char strings — the 100 TB default, at a
      ~1e-11 collision false-positive rate per Lee-scale corpus);
    - interval union per document: duplicated starts sort inside a
      per-``doc`` window (high-cardinality partition); starts whose
      coverage gaps exceed L break islands (lag + running sum), and
      each island aggregates to one maximal span.

    Never all-pairs, never a global sort; every stage is a JVM
    expression. Returns ``(id_col, span_start, span_end, span_tokens,
    n_dup_grams)`` with 0-based inclusive token offsets.

    ``witness=True`` adds audit evidence: ``witness_doc``/``witness_pos``
    locate ANOTHER occurrence of the span's LEADING gram (the minimal
    (doc, pos) site other than the span's own — deterministic), so every
    reported span carries a checkable pointer to what it duplicates.
    Sites encode as ``doc_id * 2^20 + pos`` single integers (documents
    are token-bounded far below 2^20), so the min/second-min per gram
    are plain integer window aggregates — engine-neutral ordering, no
    struct-comparison semantics. Witness covers the leading gram only:
    under the coverage semantics the full span need not occur
    contiguously at the witness site."""
    L = min_tokens
    toks = df.select(F.col(id_col), TX.tokens(F.col(text_col)).alias("__toks"))
    grams = toks.select(
        F.col(id_col),
        F.posexplode(TX.shingles_of(F.col("__toks"), L)).alias("pos", "gram"),
    )
    key = F.xxhash64(F.col("gram")) if hash_grams else F.col("gram")
    wg = Window.partitionBy(key)
    if witness:
        # the encoding bound is CHECKED, not assumed: assert_true throws
        # per-row on a >= 2^20 token position (which would collide doc
        # D pos 2^20 with doc D+1 pos 0 and silently corrupt witness
        # attribution); coalesce keeps the guard inside the live
        # expression tree so Catalyst cannot prune it
        me = F.coalesce(
            F.assert_true(
                F.col("pos") < F.lit(1 << 20),
                F.lit(
                    "substring_dup_spans: token position >= 2^20 — widen "
                    "the witness encoding shift"
                ),
            ).cast("long"),
            F.col(id_col) * F.lit(1 << 20) + F.col("pos"),
        )
        s1 = (
            grams.withColumn("__me", me)
            .withColumn("__n_occ", F.count(F.lit(1)).over(wg))
            .withColumn("__m1", F.min("__me").over(wg))
        )
        s2 = s1.withColumn(
            "__m2",
            F.min(
                F.when(F.col("__me") != F.col("__m1"), F.col("__me"))
            ).over(wg),
        )
        dup_starts = (
            s2.filter(F.col("__n_occ") >= 2)
            .withColumn(
                "__wit",
                F.when(
                    F.col("__me") == F.col("__m1"), F.col("__m2")
                ).otherwise(F.col("__m1")),
            )
            .select(id_col, "pos", "__wit")
        )
    else:
        dup_starts = (
            grams.withColumn("__n_occ", F.count(F.lit(1)).over(wg))
            .filter(F.col("__n_occ") >= 2)
            .select(id_col, "pos")
        )
    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = dup_starts.withColumn(
        "__brk",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > L),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "__island",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).drop("__brk")
    aggs = [
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + F.lit(L - 1)).cast("long").alias("span_end"),
        (F.max("pos") - F.min("pos") + F.lit(L)).cast("long").alias(
            "span_tokens"
        ),
        F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
    ]
    if witness:
        # witness of the span's LEADING gram: __wit at min pos (pos is
        # unique per doc, so the struct-min is deterministic)
        aggs.append(F.min(F.struct(F.col("pos"), F.col("__wit"))).alias("__w"))
    out = grams_agg = islands.groupBy(id_col, "__island").agg(*aggs).drop(
        "__island"
    )
    if witness:
        out = grams_agg.select(
            id_col,
            "span_start",
            "span_end",
            "span_tokens",
            "n_dup_grams",
            F.floor(F.col("__w.__wit") / F.lit(1 << 20))
            .cast("long")
            .alias("witness_doc"),
            (F.col("__w.__wit") % F.lit(1 << 20)).cast("long").alias(
                "witness_pos"
            ),
        )
    return out


def substring_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 12,
    hash_grams: bool = False,
    rebuild_text: bool = True,
) -> DataFrame:
    """Cut-and-splice removal of every duplicated >= ``min_tokens``-token
    span — the ACTION following :func:`substring_dup_spans`' detection,
    i.e. the full Lee et al. 2022 substring-dedup rung end to end.
    Practical-pipeline semantics (RefinedWeb/Dolma-style): ALL covered
    occurrences are excised, including the first — duplicated spans at
    this length are boilerplate, and keeping one canonical copy would
    make the output depend on a corpus-global occurrence order (a total
    sort this engine avoids everywhere).

    Job shape: the duplicated-start relation is computed exactly as in
    :func:`substring_dup_spans` (one gram shuffle, ``hash_grams`` for
    8-byte keys at scale); covered positions then explode from each
    start's ``sequence(pos, pos+L-1)`` (bounded Lx blowup of dup starts
    only, not of the corpus), dedup inside the same per-doc shuffle, and
    the kept tokens reassemble ORDER-SAFELY via sort of (pos, token)
    structs inside each doc group — never a global sort. Documents with
    nothing removed pass through verbatim (token-normalized docs: the
    splice rebuilds from the same whitespace tokenization both engines
    share). Returns ``(id_col, clean_text, n_tokens_kept,
    n_tokens_removed)``.

    NULL text coalesces to the empty string BEFORE tokenization: the
    posexplode-based reassembly would otherwise silently DROP the
    document from the output (no token rows -> no totals row), while
    every other per-doc surface keeps it."""
    L = min_tokens
    toks = df.select(
        F.col(id_col),
        TX.tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks"),
    )
    grams = toks.select(
        F.col(id_col),
        F.posexplode(TX.shingles_of(F.col("__toks"), L)).alias("pos", "gram"),
    )
    key = F.xxhash64(F.col("gram")) if hash_grams else F.col("gram")
    dup_starts = (
        grams.withColumn(
            "__n_occ", F.count(F.lit(1)).over(Window.partitionBy(key))
        )
        .filter(F.col("__n_occ") >= 2)
        .select(id_col, "pos")
    )
    covered = dup_starts.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(L - 1))
        ).alias("pos"),
    ).distinct()
    # totals come from the token ARRAY SIZE — a map-only projection;
    # counting the exploded token rows cost a second full scan + shuffle
    # (and silently dropped docs whose explode emitted nothing)
    totals = toks.select(
        F.col(id_col), F.size("__toks").cast("long").alias("__n_total")
    )
    if not rebuild_text:
        # counts-only fast path (q_substring_savings_by_source): the
        # removed-token count is just the covered-position count — no
        # token explode, no anti join, no text reassembly
        cov_counts = covered.groupBy(id_col).agg(
            F.count(F.lit(1)).cast("long").alias("__n_removed")
        )
        return totals.join(cov_counts, id_col, "left").select(
            id_col,
            (
                F.col("__n_total")
                - F.coalesce(F.col("__n_removed"), F.lit(0))
            )
            .cast("long")
            .alias("n_tokens_kept"),
            F.coalesce(F.col("__n_removed"), F.lit(0))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    pos_toks = toks.select(
        F.col(id_col), F.posexplode(F.col("__toks")).alias("pos", "tok")
    )
    kept = pos_toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_tokens_kept"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_tokens_kept"), F.lit(0))
            .cast("long")
            .alias("n_tokens_kept"),
            (F.col("__n_total") - F.coalesce(F.col("n_tokens_kept"), F.lit(0)))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )


def gram_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 12,
    hash_grams: bool = False,
) -> DataFrame:
    """Corpus L-gram occurrence counts ``(gram, n_occ)`` — the persisted
    artifact behind INCREMENTAL substring dedup (the substring sibling
    of :func:`materialized_signatures`): computed once per corpus
    snapshot, merged (summed) per ingest batch, never re-derived from
    base text. Map-side-combined count on the gram key."""
    toks = df.select(F.col(id_col), TX.tokens(F.col(text_col)).alias("__toks"))
    grams = toks.select(
        F.explode(TX.shingles_of(F.col("__toks"), min_tokens)).alias("gram")
    )
    if hash_grams:
        grams = grams.select(F.xxhash64(F.col("gram")).alias("gram"))
    return grams.groupBy("gram").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )


def substring_dup_spans_incremental(
    incoming: DataFrame,
    base_counts: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 12,
    hash_grams: bool = False,
    probe: str = "join",
    max_batch_grams: int = 8_000_000,
) -> DataFrame:
    """Incremental :func:`substring_dup_spans`: duplicated spans of the
    INCOMING batch against (base corpus + the batch itself), where the
    base contributes only its persisted :func:`gram_counts` artifact —
    the q_dedup_incremental production shape, one rung down. At 100 TB
    the corpus arrives daily; re-sharding every historical document per
    batch is the scale-killer, so the base side is gram-count rows
    (vocabulary-bounded, mergeable by summation) and only ``incoming``
    is tokenized. A gram duplicates iff its batch count plus its base
    count reaches 2 — exactly the full-recompute semantics, which is
    what the oracle checks. Same output shape as
    :func:`substring_dup_spans`.

    ``probe`` picks how the artifact is consulted — the two strategies
    are output-identical (pinned in tests/test_round14.py) and differ
    only in which side moves (r14, closing r13 VERDICT item 4):

    - ``"join"``: the batch's counted grams LEFT-JOIN the artifact on
      the gram key. The whole artifact shuffles (narrow: 8-byte hashed
      gram + count), the batch side reuses the count window's
      partitioning. MEASURED FASTEST while the artifact is within
      ~20x of the batch's gram count — at the bench's 10:1 geometry
      the alternative's key broadcast costs more than the artifact
      shuffle it saves.
    - ``"broadcast"``: the artifact is pruned to the batch's own gram
      keys with a broadcast semi-join BEFORE anything shuffles (the
      Bloom pre-filter shape of the big-side-reduction playbook, exact
      because the key set is batch-bounded), then only batch-gram-sized
      relations move: a gram duplicates iff it repeats within the batch
      OR exists in the base at all (artifact counts are >= 1 by
      construction), so the dup-key relation semi-joins back onto the
      position relation and the artifact contributes a column-pruned
      SCAN, never a shuffle. This is the production-geometry winner:
      per-ingest cost stays O(|batch|) while ``"join"`` re-shuffles the
      corpus-sized artifact every batch (the bench's substring_dedup
      section measures the crossover). ``max_batch_grams`` count-guards
      the key broadcast, as the similarity searches cap their query
      batch at ``MAX_QUERY_BATCH``; at key volumes past
      broadcastability, swap the broadcast for a Bloom filter over the
      batch grams — false positives only let a few extra artifact rows
      through and cannot change a dup verdict.
    """
    if probe not in ("join", "broadcast"):
        raise ValueError(
            f"substring_dup_spans_incremental: unknown probe={probe!r} "
            "(expected 'join' or 'broadcast')"
        )
    L = min_tokens
    toks = incoming.select(
        F.col(id_col), TX.tokens(F.col(text_col)).alias("__toks")
    )
    grams = toks.select(
        F.col(id_col),
        F.posexplode(TX.shingles_of(F.col("__toks"), L)).alias("pos", "gram"),
    )
    if hash_grams:
        grams = grams.select(
            id_col, "pos", F.xxhash64(F.col("gram")).alias("gram")
        )
    if probe == "broadcast":
        # one materialization of the batch grams: they feed the guard
        # count, the repeat count, the artifact prune and the final
        # dup-start semi-join — a lazy local checkpoint runs the
        # tokenize->shingle pipeline once, not four times
        grams = grams.localCheckpoint(eager=False)
        # fail fast if the "batch" is not actually batch-sized: its
        # gram keys are broadcast below (a broadcast side must stay
        # batch-sized — a corpus-sized incoming frame belongs on the
        # full-recompute or probe="join" path). The count doubles as
        # the checkpoint materializer.
        cap = int(max_batch_grams)
        if grams.limit(cap + 1).count() > cap:
            raise ValueError(
                f"substring_dup_spans_incremental: incoming batch "
                f"exceeds max_batch_grams={cap} gram instances; its "
                "gram-key set is broadcast to prune the base artifact, "
                "so a corpus-sized batch would OOM executors. Split the "
                "ingest batch, use probe='join', or raise "
                "max_batch_grams deliberately."
            )
        inc_counts = grams.groupBy("gram").agg(
            F.count(F.lit(1)).alias("__n_inc")
        )
        # .limit(cap) is a no-op after the guard (distinct grams <=
        # gram instances <= cap) and gives the broadcast a structural
        # bound the hint audit can prove
        keys = inc_counts.select("gram").limit(cap)
        base_hits = base_counts.select("gram").join(
            F.broadcast(keys), "gram", "left_semi"
        )
        dup_keys = (
            inc_counts.filter(F.col("__n_inc") >= 2)
            .select("gram")
            .unionByName(base_hits)  # dups possible; semi-join ignores
        )
        dup_starts = grams.join(dup_keys, "gram", "left_semi").select(
            id_col, "pos"
        )
    else:
        inc_counted = grams.withColumn(
            "__n_inc", F.count(F.lit(1)).over(Window.partitionBy("gram"))
        )
        joined = inc_counted.join(
            base_counts.select(
                F.col("gram"), F.col("n_occ").alias("__n_base")
            ),
            "gram",
            "left",
        )
        dup_starts = joined.filter(
            F.col("__n_inc") + F.coalesce(F.col("__n_base"), F.lit(0)) >= 2
        ).select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = dup_starts.withColumn(
        "__brk",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > L),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "__island",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).drop("__brk")
    return islands.groupBy(id_col, "__island").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + F.lit(L - 1)).cast("long").alias("span_end"),
        (F.max("pos") - F.min("pos") + F.lit(L)).cast("long").alias(
            "span_tokens"
        ),
        F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
    ).drop("__island")
