"""Deduplication operators: exact, prefix-fingerprint, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale notes (the part that matters at 10^12 docs):

* Exact / fingerprint dedup is a hash-groupBy — one shuffle on a short hash
  key with map-side partial aggregation. The group key is the md5/xxhash of
  normalized content, never the content itself, so shuffle volume is bytes
  per doc, not the doc.
* MinHash+LSH plants each doc in `bands` buckets; candidate pairs come from
  a self-join *within buckets only* (the classic band trick), so the
  quadratic blowup is bounded by bucket occupancy, not corpus size. Banding
  is an explode → groupBy — all shuffle keys are (band, bucket-hash).
* SimHash reduces each doc to one 64-bit signature (aggregate over word
  hashes — no shuffle at all), and near-dup candidates join on signature
  bands of 16 bits.
* Exact n-gram Jaccard is quadratic and exists as the small-scale oracle /
  verifier for the LSH path, not the scale path.

Everything below is Spark SQL expressions — hashing via xxhash64/md5,
set ops via array functions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def words(text: Column) -> Column:
    """Whitespace tokenization; empty string -> empty array (SQL-portable)."""
    return F.filter(F.split(text, r"\s+"), lambda w: w != "")


def _ordered_pair_expr(ids: Column, a_name: str, b_name: str) -> Column:
    """All ordered (a < b by list position) pairs from a sorted id list —
    pure expressions, no self-join."""
    return F.flatten(
        F.transform(
            ids,
            lambda a, i: F.filter(
                F.transform(
                    ids,
                    lambda b, j: F.when(
                        j > i, F.struct(a.alias(a_name), b.alias(b_name))
                    ),
                ),
                lambda s: s.isNotNull(),
            ),
        )
    )


def bucket_pairs(
    banded: DataFrame,
    key_cols: list[str],
    id_col: str,
    out_a: str,
    out_b: str,
    max_bucket: int | None = 512,
) -> DataFrame:
    """Distinct ordered id pairs per bucket, with HOT-BUCKET protection.

    The naive form (collect_list per bucket + in-expression O(m²) pair
    expansion) is fine for random collisions, but identical documents
    collide in EVERY band regardless of band width — a boilerplate dup
    cluster of 10^5 members would put one 10^5-element array in a single
    aggregation row and expand 10^10 pairs in one task. With
    `max_bucket=N` the expansion is bounded:

    * the first N members of a bucket (ordered by id) form a full clique
      (N(N-1)/2 pairs — the within-sample pairs downstream verify/score
      stages expect);
    * every member beyond N is linked to the bucket's minimum id with ONE
      star pair (keeper, member) — membership in the dup cluster is
      preserved for connected-component/keep-first consumers at linear
      cost, and no aggregation row ever holds more than N ids.

    A full bucket is by definition a (near-)dup cluster, so the star edges
    lose no information a dedup pass needs; exact pair-level scores for
    the tail are the only thing traded away. `max_bucket=None` disables
    the cap (the oracle-checked small-scale queries use sizes far below
    the default cap, so capped and uncapped outputs coincide there).

    Exactly ONE shuffle and ONE upstream scan: the cap is applied with
    in-expression `slice`s on the collected list (clique over the first N
    ids, star structs over the tail), so the — typically expensive —
    lineage above `banded` (signature computation over the corpus) is
    never evaluated twice. (A window-rank formulation avoids holding the
    bucket's id list in one row, but both its branches re-evaluate the
    upstream; measured 3x slower end-to-end on the MinHash pipeline.)
    The residual bound is the id list itself at ~8-40 bytes/member — a
    10^6-member bucket costs tens of MB in one aggregation row, versus
    the 10^12 pair structs the cap prevents; corpora with degenerate
    clusters beyond that should run exact dedup first (standard pipeline
    order: exact pass, then near-dup)."""
    groups = (
        banded.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is None:
        pairs = _ordered_pair_expr(F.col("ids"), out_a, out_b)
    else:
        n = F.size("ids")
        head = F.slice(F.col("ids"), 1, max_bucket)
        tail = F.slice(
            F.col("ids"),
            max_bucket + 1,
            F.greatest(n - max_bucket, F.lit(0)),
        )
        star = F.transform(
            tail,
            lambda x: F.struct(
                F.element_at(F.col("ids"), 1).alias(out_a), x.alias(out_b)
            ),
        )
        pairs = F.concat(_ordered_pair_expr(head, out_a, out_b), star)
    return (
        groups.select(F.explode(pairs).alias("p"))
        .select(f"p.{out_a}", f"p.{out_b}")
        .distinct()
    )


def _norm_words(text_col: str) -> Column:
    return words(F.lower(F.col(text_col)))


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents.

    Returns (fingerprint, n_docs, keeper, doc_ids): keeper is the minimum
    doc_id (the row a dedup pass would retain)."""
    fp = F.md5(F.lower(F.trim(F.col(text_col))))
    return (
        df.select(fp.alias("fingerprint"), F.col("doc_id"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def prefix_duplicates(
    df: DataFrame, text_col: str = "text", prefix_words: int = 8
) -> DataFrame:
    """Near-dup screen on the first-k-words fingerprint (cheap recall pass)."""
    fp = F.md5(F.array_join(F.slice(_norm_words(text_col), 1, prefix_words), " "))
    return (
        df.select(fp.alias("fingerprint"), F.col("doc_id"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("n_docs") > 1)
    )


def shingles(text_col: str, k: int = 3) -> Column:
    """Distinct word k-shingles of a document (array of strings)."""
    w = _norm_words(text_col)
    n = F.size(w)
    return F.when(n < k, F.array(F.array_join(w, " "))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.array_join(F.slice(w, i, k), " "),
            )
        )
    )


def shingle_hashes(text_col: str, k: int = 3) -> Column:
    """Distinct xxhash64 values of word k-shingles — WITHOUT building the
    shingle strings. Words are hashed once, then each shingle hash combines
    k consecutive word hashes with integer ops; measured ~6x faster than
    slicing+joining shingle strings (string building is interpreted and
    allocation-heavy inside higher-order functions). The word-hash array is
    bound as a lambda variable (1-element-array trick) so it is computed
    once per row despite being referenced by every shingle."""
    wh = F.transform(_norm_words(text_col), lambda t: F.xxhash64(t))

    def per_row(w: Column) -> Column:
        n = F.size(w)
        whole = F.array(
            F.aggregate(
                w, F.lit(0).cast("bigint"), lambda acc, x: F.xxhash64(acc, x)
            )
        )
        windows = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.xxhash64(*[F.element_at(w, (i + j).cast("int")) for j in range(k)]),
        )
        return F.when(n < k, whole).otherwise(F.array_distinct(windows))

    return F.flatten(F.transform(F.array(wh), per_row))


#: modulus for the engine-portable MinHash family (Mersenne prime 2^31-1:
#: 31-bit residues keep every a*x product under 2^62 — uint64/BIGINT-safe
#: on Spark, NumPy, and DuckDB alike)
MH31_MOD = 2147483647
# shingle-combine multipliers (arbitrary primes < 2^31)
_SH31_C = (1000003, 999979, 31607)


def minhash31_constants(
    num_perm: int, seed: int = 987654321
) -> list[tuple[int, int]]:
    """Deterministic (a_p, b_p) pairs for the mod-2^31-1 universal hash —
    a tiny LCG stream so Spark, the Arrow kernel, and the DuckDB oracle
    embed the exact same constants."""
    state = seed & 0x7FFFFFFF
    out = []
    for _ in range(num_perm):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = state % (MH31_MOD - 1) + 1
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state % MH31_MOD
        out.append((a, b))
    return out


def portable_shingle_hashes(text_col: str, k: int = 3) -> Column:
    """Distinct mod-2^31-1 hashes of word k-shingles, computed WITHOUT
    building shingle strings: each word gets a portable md5-prefix hash
    (portable_word_hashes % M), and a shingle combines k consecutive word
    hashes with fixed multipliers mod M. Engine-portable sibling of
    shingle_hashes (same scale shape: word-hash array bound once as a
    lambda variable, integer ops per window); DuckDB mirrors it with
    list_transform/list_reduce."""
    if k != 3:
        raise ValueError("portable shingles are pinned to k=3 (oracle mirror)")
    m = F.lit(MH31_MOD).cast("bigint")
    wh = F.transform(portable_word_hashes(text_col), lambda x: x % m)

    def per_row(w: Column) -> Column:
        n = F.size(w)
        whole = F.array(
            F.aggregate(
                w,
                F.lit(7).cast("bigint"),
                lambda acc, x: (acc * 37 + x) % m,
            )
        )
        windows = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: (
                sum(
                    (F.element_at(w, (i + j).cast("int")) * _SH31_C[j]) % m
                    for j in range(k)
                )
            )
            % m,
        )
        return F.when(n < k, whole).otherwise(F.array_distinct(windows))

    return F.flatten(F.transform(F.array(wh), per_row))


def minhash_signatures_portable(
    df: DataFrame, text_col: str = "text", k: int = 3, num_perm: int = 64
) -> DataFrame:
    """(doc_id, sig) engine-portable MinHash signatures: md5-prefix word
    hashes, mod-2^31-1 shingle combine, and (a_p*x+b_p) mod 2^31-1
    permutations — every step replayable in DuckDB BIGINT math, so the
    driver's oracle checks signatures (and the LSH pairs built from them)
    value-for-value. Same Arrow-kernel shape as the xxhash64/splitmix64
    scale default (minhash_signatures); 31-bit registers are the classic
    MinHash width and cost nothing at the banding stage."""
    from ..functions.arrays import minhash_signatures_from_hashes_mod

    base = portable_shingle_hashes(text_col, k)
    hashed = df.select("doc_id", base.alias("_h"))
    return minhash_signatures_from_hashes_mod(
        hashed, "_h", "doc_id", minhash31_constants(num_perm), MH31_MOD
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    strategy: str = "arrow",
) -> DataFrame:
    """(doc_id, sig array<bigint>) MinHash signatures over word shingles.

    strategy="arrow" (default): shingle + base-hash JVM-side (xxhash64),
    then the num_perm universal-hash permutations run as a vectorized NumPy
    kernel over Arrow batches — higher-order-function lambdas don't codegen,
    so evaluating num_perm×|shingles| hash expressions interpreted is ~5x
    slower than one reduceat pass per permutation.

    strategy="sql": pure-expression fallback (permutation i =
    xxhash64(base, i)); the base hash array is bound as a lambda variable
    (wrapped in a 1-element array) because naive column staging is undone by
    Catalyst's CollapseProject, which would inline the shingle expression
    num_perm times (~20x slower)."""
    base = shingle_hashes(text_col, k)
    if strategy == "arrow":
        from ..functions.arrays import minhash_signatures_from_hashes

        hashed = df.select("doc_id", base.alias("_h"))
        return minhash_signatures_from_hashes(hashed, "_h", "doc_id", num_perm)
    # Null text ⇒ null base ⇒ the inner `when` yields a null nested array
    # and flatten propagates it to a NULL sig (not an array of 64 nulls,
    # which would survive lsh_candidate_pairs' isNotNull screen and make
    # every null doc collide via xxhash64-of-nulls bucket keys). Matches
    # the Arrow wrappers' null-masked rows (arrays._degenerate_rows).
    sig = F.flatten(
        F.transform(
            F.array(base),
            lambda h: F.when(
                h.isNotNull() & (F.size(h) > 0),
                F.transform(
                    F.sequence(F.lit(0), F.lit(num_perm - 1)),
                    lambda p: F.array_min(
                        F.transform(h, lambda x: F.xxhash64(x, p))
                    ),
                ),
            ),
        )
    )
    return df.select("doc_id", sig.alias("sig"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    bucket: str = "hash",
    max_bucket: int | None = 512,
) -> DataFrame:
    """Candidate near-dup pairs via the banding trick.

    Docs agreeing on ALL rows of any band land in the same bucket; the
    self-join happens within (band, bucket) groups only. Returns distinct
    (doc_a, doc_b) with doc_a < doc_b.

    One shuffle total: explode to (band, bucket, doc_id), then bucket-wise
    pair expansion via `bucket_pairs` — full cliques up to `max_bucket`
    members per bucket, star links (bucket-min, member) beyond that, so a
    giant exact-dup cluster cannot blow up a single task (see
    bucket_pairs for the exact contract). At 10^12 docs the shuffle
    volume is one (16B key, id) record per doc per band. The bucket hash
    folds the band's `rows_per_band` signature values as integers
    (xxhash64 varargs) — no string building.

    bucket="hash" (default) folds each band's values with xxhash64 — an
    8-byte shuffle key. bucket="tuple" groups on the raw value slice
    instead (collision-free and engine-portable: the DuckDB oracle joins
    on band-slice equality, so the oracle-gated query uses this form; the
    shuffle key grows to rows_per_band*8 bytes)."""

    banded = banded_rows(signatures, bands, rows_per_band, bucket)
    return bucket_pairs(
        banded, ["band", "bucket"], "doc_id", "doc_a", "doc_b", max_bucket
    )


def banded_rows(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    bucket: str = "hash",
) -> DataFrame:
    """(doc_id, band, bucket) — the exploded LSH banding relation, the
    ONE construction shared by lsh_candidate_pairs and the incremental
    dedup state (a state whose band keys were built differently would
    silently miss cross-batch collisions).

    NULL signatures (null/empty-shingle docs — the Arrow wrappers emit
    them as null rows, see arrays._degenerate_rows) are dropped HERE:
    the banding transform maps a null sig to `bands` rows with a null
    bucket, and groupBy treats null buckets as equal — every degenerate
    doc would land in one bucket and pair with all others, while the
    SQL oracle's NULL band keys emit no pairs."""

    def bucket_of(b: Column) -> Column:
        if bucket == "tuple":
            return F.slice(
                F.col("sig"), b * rows_per_band + 1, F.lit(rows_per_band)
            )
        return F.xxhash64(
            *[
                F.element_at(
                    F.col("sig"), (b * rows_per_band + j + 1).cast("int")
                )
                for j in range(rows_per_band)
            ]
        )

    bucket_structs = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(b.alias("band"), bucket_of(b).alias("bucket")),
    )
    return (
        signatures.filter(F.col("sig").isNotNull())
        .select("doc_id", F.explode(bucket_structs).alias("bb"))
        .select("doc_id", "bb.band", "bb.bucket")
    )


def verify_candidate_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs — the second half of
    the scale-path near-dup pipeline (LSH proposes, exact scoring disposes).

    The quadratic exact score runs only on the candidate set, so total work
    is O(candidates), not O(n²); at 10^12 docs the joins shuffle one
    (id, shingle-set) record per *candidate participant*, not per doc.
    Shingle sets are computed ABOVE a broadcast semi-join with the
    participant id set, so the expensive shingling projection runs only on
    candidate participants — not on every document twice (which is what a
    naive join against a pre-shingled projection compiles to)."""
    # the candidate set is consumed twice (participant ids + the score
    # join); cache it so the LSH lineage — a full signature pass over the
    # corpus — runs once (at cluster scale: materialize candidates to a
    # table between the two stages). Tracked for explicit unpersist via
    # functions.cache.release_all() — the CompiledPlan.release() pattern.
    from ..functions.cache import track

    candidates = track(candidates.cache())
    ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    participants = df.join(F.broadcast(ids), "doc_id", "left_semi")
    docs = participants.select(
        F.col("doc_id"), shingles(text_col, k).alias("sh")
    ).select("doc_id", "sh", F.size("sh").alias("n"))
    a = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("n").alias("n_a"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("n").alias("n_b"),
    )
    j = candidates.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.col("n_a") + F.col("n_b") - inter
    # Threshold on the ROUNDED score, projected first: filtering on the raw
    # ratio makes PushDownPredicate substitute the alias below the project,
    # so the expensive array_intersect evaluates once in the filter (on
    # EVERY joined row) and again in the projection — measured 4x slower
    # end-to-end at sf0.1. The DuckDB oracle applies round() before its
    # threshold too, so boundary pairs (within 5e-5 of the threshold)
    # agree between engine and oracle by construction.
    return (
        j.select(
            "doc_a",
            "doc_b",
            F.round(inter / union.cast("double"), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs_exact(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over all pairs — the O(n²) oracle for LSH.

    Pairs are pruned with a length filter first (|A|/|B| >= threshold is a
    necessary condition), then scored with array set ops."""
    docs = df.select(F.col("doc_id"), shingles(text_col, k).alias("sh")).select(
        "doc_id", "sh", F.size("sh").alias("n")
    )
    a, b = docs.alias("a"), docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.least("a.n", "b.n") >= F.greatest("a.n", "b.n") * F.lit(threshold)),
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.col("a.n") + F.col("b.n") - inter
    # rounded-then-filter: single intersect evaluation (see
    # verify_candidate_pairs); oracle rounds before thresholding too
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(inter / union.cast("double"), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


#: bits in the engine-portable word hash / SimHash signature (60 = the
#: first 15 hex chars of md5 — positive in a signed bigint on every engine)
PORTABLE_HASH_BITS = 60


def portable_word_hashes(text_col: str) -> Column:
    """array<bigint> 60-bit word hashes both Spark and DuckDB can compute
    identically: the first 15 hex chars of md5(word) parsed base-16.

    `conv` is a single builtin per word (no interpreted folding); the
    DuckDB mirror folds the same 15 hex digits with list_reduce. Used by
    the oracle-checked SimHash/MinHash variants so the driver's DuckDB
    gate can replay the exact signature math (xxhash64 is Spark-only)."""
    return F.transform(
        _norm_words(text_col),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint"),
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", strategy: str = "arrow"
) -> DataFrame:
    """60-bit SimHash per document from md5-derived word-hash bit votes.

    Bit b of the signature is 1 iff more words have bit b set than unset —
    one pass over the corpus, no shuffle.

    strategy="arrow" (default): word hashes JVM-side (codegen), bit votes
    as ONE mapInArrow NumPy kernel (functions.arrays.simhash_kernel) —
    the previous pure-expression form evaluated 60+ interpreted
    F.aggregate lambdas per row (HOF lambdas don't codegen, so it ran far
    slower than the Arrow path). strategy="sql" keeps that expression form
    for differential testing.

    The word hash is engine-portable (portable_word_hashes), so the DuckDB
    oracle replays the signature bit-for-bit (driver query `simhash_sigs`)."""
    h = portable_word_hashes(text_col)
    if strategy == "arrow":
        from ..functions.arrays import simhash_from_hashes

        hashed = df.select("doc_id", h.alias("_h"))
        return simhash_from_hashes(
            hashed, "_h", "doc_id", bits=PORTABLE_HASH_BITS
        )

    def vote(w: Column) -> Column:
        bits = [
            F.when(
                F.aggregate(
                    w,
                    F.lit(0).cast("bigint"),
                    lambda acc, v: acc
                    + F.when(
                        v.bitwiseAND(F.lit(2**b).cast("bigint")) != 0, 1
                    ).otherwise(-1),
                )
                > 0,
                F.lit(2**b).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
            for b in range(PORTABLE_HASH_BITS)
        ]
        sig = bits[0]
        for bcol in bits[1:]:
            sig = sig + bcol
        return sig

    # 1-element-array binding so the word-hash array is computed once, not
    # once per bit (CollapseProject would inline it 60 times otherwise)
    sig = F.element_at(F.transform(F.array(h), vote), 1)
    return df.select("doc_id", F.coalesce(sig, F.lit(0)).alias("simhash"))


def simhash_candidates(
    signatures: DataFrame, band_bits: int = 15, max_bucket: int | None = 512
) -> DataFrame:
    """Near-dup candidates: docs sharing any band_bits-wide band of the
    (60-bit) simhash — 4 bands of 15 bits by default.

    Same bucket-wise expansion as the MinHash path (bucket_pairs): one
    groupBy on (band, chunk), in-expression pair generation, hot-bucket
    cap — no self-join (the banded self-join shuffles the table twice and
    has the same O(m²) hot-bucket blow-up the cap exists to prevent)."""
    if PORTABLE_HASH_BITS % band_bits != 0:
        raise ValueError(
            f"band_bits must divide {PORTABLE_HASH_BITS} (got {band_bits}); "
            "a non-divisor would silently leave the top signature bits out "
            "of every band"
        )
    bands = PORTABLE_HASH_BITS // band_bits
    banded = signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(
                            F.col("simhash"), i * band_bits
                        ).bitwiseAND(F.lit((1 << band_bits) - 1)).alias("chunk"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.chunk")
    return bucket_pairs(
        banded, ["band", "chunk"], "doc_id", "doc_a", "doc_b", max_bucket
    )


def cross_table_lsh_pairs(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    out_a: str = "corpus_id",
    out_b: str = "bench_id",
) -> DataFrame:
    """FUZZY decontamination screen: (corpus_id, bench_id) candidate
    near-dup pairs ACROSS two tables via portable MinHash banding,
    catching lightly-edited benchmark leaks that an exact hash of the
    text misses.

    Cross-table banding is a plain equi-join on (band, key), never a
    corpus × bench product; the benchmark side is orders of magnitude
    smaller than a training corpus (10^4-10^5 rows vs 10^12), so its
    banded keys are BROADCAST and the corpus never shuffles — the scan
    streams once through signature kernel + hash probe. Both sides drop
    NULL signatures (null text) exactly like lsh_candidate_pairs; the
    driver oracle replays both banding pipelines in SQL."""

    def banded(df: DataFrame, out_id: str) -> DataFrame:
        sigs = minhash_signatures_portable(
            df, text_col=text_col, k=k, num_perm=num_perm
        )
        structs = F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.slice(
                    F.col("sig"), b * rows_per_band + 1, F.lit(rows_per_band)
                ).alias("key"),
            ),
        )
        return (
            sigs.filter(F.col("sig").isNotNull())
            .select(
                F.col("doc_id").alias(out_id),
                F.explode(structs).alias("bb"),
            )
            .select(out_id, "bb.band", "bb.key")
        )

    a = banded(corpus, out_a)
    b = banded(bench, out_b)
    return (
        a.join(F.broadcast(b), ["band", "key"])
        .select(out_a, out_b)
        .distinct()
    )


def token_ngram_dup_stats(
    df: DataFrame,
    k: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    min_docs: int = 2,
    base: int = 1000003,
    mod: int = 2147483647,
    seed: int = 7,
    digits: int = 4,
) -> DataFrame:
    """Token-level exact k-gram duplication stats per document — the
    tokens-column sibling of the text dedup family, in the spirit of
    exact-substring training-data dedup (Lee et al. 2022,
    arXiv:2107.06499): a window is *duplicated* when its k-token hash
    occurs in >= `min_docs` document ROW INSTANCES (each input row is
    one instance — an id spanning two rows contributes 2, not 1; see
    below).

    Returns one row per DISTINCT id: (id, n_windows, n_dup_windows,
    dup_rate) with dup_rate = round(n_dup/n_windows, digits). Rows whose
    token list is null, contains nulls, or is shorter than k have no
    windows: (id, 0, 0, 0.0). An id duplicated across input rows is one
    output row summing both instances — and since each ROW counts as a
    document instance, exact full-row duplicates flag each other's
    windows as dups.

    Scale shape: the Arrow kernel computes every window hash O(n) per
    row (no per-window refold) AND pre-aggregates to per-(doc,
    distinct-hash) counts in the same pass
    (token_window_pair_counts_arrow), so the widest relation — every
    window occurrence — never reaches a shuffle. The pair stream feeds
    two consumers (the global hash counts and the flag join), so the
    kernel lineage executes twice per action — DELIBERATELY uncached:
    at 1M docs / 256M windows, persisting the pair stream measured 2x
    slower than recomputing the NumPy kernel (materializing the widest
    relation costs more than the hashing). What shuffles is compact: a
    count-per-hash aggregation (map-side partials collapse hot hashes),
    the h-keyed join back (AQE broadcasts the hash-count table when
    duplication is concentrated, skew-splits it when not), and a
    per-doc rollup that partial-aggregates to one row per doc before
    moving. The suffix-array machinery of the paper is replaced by
    fixed-k fingerprints — the standard distributed approximation; at
    10^12 rows every shuffle key is a uniform 31-bit hash."""
    from ..functions.arrays import token_window_pair_counts_arrow

    pdc = token_window_pair_counts_arrow(
        df, tokens_col, id_col, k=k, base=base, mod=mod, seed=seed
    )
    # sentinel (h = -1, k_cnt = 0) rows keep zero-window docs in the
    # stream, so no join back to the source is needed; they must not
    # enter the hash counts
    gc = (
        pdc.filter(F.col("h") >= 0)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    # left join: every real hash matches (gc derives from the same
    # stream); only sentinel rows dangle, contributing 0 to both sums
    out = (
        pdc.join(gc, "h", "left")
        .groupBy(id_col)
        .agg(
            F.sum("k_cnt").alias("_nw"),
            F.sum(
                F.when(F.col("n_docs") >= min_docs, F.col("k_cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("_nd"),
        )
    )
    nw = F.coalesce(F.col("_nw"), F.lit(0)).cast("bigint")
    nd = F.coalesce(F.col("_nd"), F.lit(0)).cast("bigint")
    return out.select(
        id_col,
        nw.alias("n_windows"),
        nd.alias("n_dup_windows"),
        F.when(nw > 0, F.round(nd.cast("double") / nw, digits))
        .otherwise(F.lit(0.0))
        .alias("dup_rate"),
    )


def token_ngram_dedup(
    df: DataFrame,
    k: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    min_docs: int = 2,
    base: int = 1000003,
    mod: int = 2147483647,
    seed: int = 7,
    passthrough: "list[str] | None" = None,
) -> DataFrame:
    """Duplicate-SPAN REMOVAL — the rewrite stage of token-level exact
    k-gram dedup (the output a training pipeline actually feeds to the
    packer, in the spirit of Lee et al. 2022, arXiv:2107.06499):
    every token position covered by a window whose k-gram hash occurs in
    >= `min_docs` document ROW INSTANCES is cut, overlapping spans are
    merged, and the sliced sequence is emitted.

    Returns one row per INPUT ROW: (id, tokens_clean, n_removed).
    Zero-window rows (null list / child nulls / shorter than k) pass
    through unchanged with n_removed = 0 (a null list stays null).
    Semantics are symmetric, not keep-one: ALL instances of a duplicated
    window are cut (exact full-row duplicates therefore erase each
    other) — the deterministic, order-free contract; a keep-one policy
    composes as exact_duplicates keep-first BEFORE this operator.
    Duplication counts match token_ngram_dup_stats: `n_docs` counts
    row instances carrying the hash (a doc_id spanning two rows
    contributes twice), so `n_removed > 0` exactly where that operator
    reports `n_dup_windows > 0`.

    Scale shape: two passes of the O(n) Rabin-Karp window kernel over
    the corpus (recomputing beats materializing the full window stream —
    the token_ngram_dup_stats measurement) with only compact relations
    shuffling between them: the per-(doc, distinct-hash) pair stream
    aggregates to a count-per-hash table (map-side partials), the
    >= min_docs hashes semi-join back onto the pair stream (h-keyed, AQE
    broadcasts when duplication is rare), the per-doc dup-hash sets
    collapse to one array row per affected doc, and ONE doc-keyed join
    attaches them to the corpus for the rewrite kernel — broadcast when
    few docs are affected, shuffle otherwise (the rewrite output is
    O(corpus) regardless, so the join never dominates). Span merging is
    a boundary-delta cumsum inside the Arrow kernel — no pairwise span
    logic, no Python loops."""
    from ..functions.arrays import (
        token_span_dedup_arrow,
        token_window_pair_counts_arrow,
    )

    pdc = token_window_pair_counts_arrow(
        df, tokens_col, id_col, k=k, base=base, mod=mod, seed=seed
    )
    real = pdc.filter(F.col("h") >= 0)
    dup_hashes = (
        real.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h")
    )
    per_doc = (
        real.join(dup_hashes, "h", "leftsemi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("h")).alias("_dup_hs"))
    )
    src = df.select(id_col, tokens_col, *(passthrough or [])).join(
        per_doc, id_col, "left"
    )
    return token_span_dedup_arrow(
        src,
        tokens_col,
        "_dup_hs",
        id_col=id_col,
        k=k,
        base=base,
        mod=mod,
        seed=seed,
        passthrough=passthrough,
    )


def token_ngram_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    k: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    base: int = 1000003,
    mod: int = 2147483647,
    seed: int = 7,
    digits: int = 4,
) -> DataFrame:
    """Token-level decontamination screen: for every corpus document,
    the share of its k-token windows that appear ANYWHERE in the
    benchmark table — the tokens-column sibling of the fuzzy text screen
    (cross_table_lsh_pairs), catching eval leaks that survive
    re-tokenization boundary shifts worse than whole-doc hashes do.

    Returns one row per distinct corpus id: (id, n_windows,
    n_contaminated, contamination_rate); zero-window docs (null /
    child-null / short token lists) report (0, 0, 0.0).

    Scale shape: both sides go through the same single-pass window-hash
    + per-doc pair-count kernel (token_window_pair_counts_arrow). The
    benchmark reduces to its DISTINCT window hashes and is broadcast —
    a benchmark is small by nature (same contract as cross_table_lsh_pairs);
    for a benchmark too large to broadcast, drop the hint and AQE plans
    the h-keyed shuffle join. The corpus side never shuffles its window
    stream: the flag join is map-side, and the per-doc rollup
    partial-aggregates to one row per doc."""
    from ..functions.arrays import token_window_pair_counts_arrow

    cp = token_window_pair_counts_arrow(
        corpus, tokens_col, id_col, k=k, base=base, mod=mod, seed=seed
    )
    bh = (
        token_window_pair_counts_arrow(
            bench, tokens_col, id_col, k=k, base=base, mod=mod, seed=seed
        )
        .filter(F.col("h") >= 0)
        .select("h")
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    j = cp.join(F.broadcast(bh), "h", "left")
    out = j.groupBy(id_col).agg(
        F.sum("k_cnt").alias("_nw"),
        F.sum(
            F.when(F.col("_hit"), F.col("k_cnt")).otherwise(F.lit(0))
        ).alias("_nc"),
    )
    nw = F.coalesce(F.col("_nw"), F.lit(0)).cast("bigint")
    nc = F.coalesce(F.col("_nc"), F.lit(0)).cast("bigint")
    return out.select(
        id_col,
        nw.alias("n_windows"),
        nc.alias("n_contaminated"),
        F.when(nw > 0, F.round(nc.cast("double") / nw, digits))
        .otherwise(F.lit(0.0))
        .alias("contamination_rate"),
    )


def write_token_dedup_state(
    df: DataFrame,
    path: str,
    k: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    base: int = 1000003,
    mod: int = 2147483647,
    seed: int = 7,
) -> str:
    """Materialize the STANDING state of token-level exact k-gram dedup:
    one Arrow pass over the corpus persists

      * ``counts``: (h, n_docs) — row instances per distinct window
        hash (the table the >= min_docs threshold reads), and
      * ``pairs``: (doc_id, h) — the doc→hash linkage that lets an
        append find which EXISTING docs a new duplicate affects without
        re-running the window kernel over history.

    Both relations are O(distinct windows), compact next to the corpus
    (16 B per doc-distinct window vs the token payload), and the state
    parameters (k/base/mod/seed) ride a `meta` sidecar so an append
    with mismatched hashing fails fast instead of silently mixing hash
    spaces."""
    from ..functions.arrays import token_window_pair_counts_arrow

    spark = df.sparkSession
    # pairs keeps the kernel's (id, -1, 0) sentinels: zero-window docs
    # must still be MEMBERS of the state (skip_existing's idempotent
    # retry is keyed on pairs' ids); counts sees only real hashes
    pdc = token_window_pair_counts_arrow(
        df, tokens_col, id_col, k=k, base=base, mod=mod, seed=seed
    )
    pdc.filter(F.col("h") >= 0).groupBy("h").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).write.mode("overwrite").parquet(f"{path}/counts")
    pdc.select(id_col, "h").write.mode("overwrite").parquet(f"{path}/pairs")
    spark.createDataFrame(
        [(k, base, mod, seed, id_col)],
        "k int, base long, mod long, seed long, id_col string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    return path


def append_token_dedup(
    df_new: DataFrame,
    corpus_old: DataFrame,
    path: str,
    min_docs: int = 2,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    skip_existing: bool = True,
    passthrough: "list[str] | None" = None,
) -> DataFrame:
    """Incremental duplicate-SPAN removal: ingest `df_new` against a
    write_token_dedup_state layout and return the rewrite of ONLY the
    rows whose cleaned output can have changed — the new rows plus the
    EXISTING docs that share a window hash whose duplicate status
    flipped (counts are monotone under append, so clean→dup is the only
    transition; everything else's prior output stays valid). At
    10^12-token scale this replaces two corpus-wide kernel passes with
    one pass over the DELTA, a counts merge keyed on the delta's
    hashes, and a reverse lookup in the persisted doc→hash pairs.

    State updates are written back (counts merged, delta pairs
    appended). `skip_existing` anti-joins delta ids already in the
    state (idempotent retries — an id-column-pruned membership scan).
    Returns (id, tokens_clean, n_removed, *passthrough) for the rewrite
    set; append-then-rewrite ≡ full token_ngram_dedup rebuild on
    old ∪ new (asserted in tests).
    NOT atomic across the two state writes — wrap in your table
    format's transaction (Iceberg/Delta) for concurrent ingest."""
    from ..functions.arrays import (
        token_span_dedup_arrow,
        token_window_pair_counts_arrow,
    )

    spark = df_new.sparkSession
    meta = spark.read.parquet(f"{path}/meta").first()
    k, base, mod, seed = (
        int(meta["k"]), int(meta["base"]), int(meta["mod"]), int(meta["seed"])
    )
    if meta["id_col"] != id_col:
        raise ValueError(
            f"state was built over id_col={meta['id_col']!r}, got {id_col!r}"
        )
    if skip_existing:
        existing = spark.read.parquet(f"{path}/pairs").select(
            id_col
        ).distinct()
        df_new = df_new.join(existing, id_col, "left_anti")
    pdc_new = token_window_pair_counts_arrow(
        df_new, tokens_col, id_col, k=k, base=base, mod=mod, seed=seed
    ).persist()
    new_pairs = pdc_new.filter(F.col("h") >= 0)
    delta_counts = new_pairs.groupBy("h").agg(
        F.count(F.lit(1)).alias("d_docs")
    )
    counts_old = spark.read.parquet(f"{path}/counts")
    # only hashes PRESENT IN THE DELTA can change status — the merge
    # and the flip detection are keyed on the delta's hash set, never
    # on the historical table's size
    merged_delta = (
        counts_old.join(delta_counts, "h", "right")
        .select(
            "h",
            F.coalesce(F.col("n_docs"), F.lit(0)).alias("old_docs"),
            (
                F.coalesce(F.col("n_docs"), F.lit(0)) + F.col("d_docs")
            ).alias("n_docs"),
        )
        .persist()
    )
    flipped = merged_delta.filter(
        (F.col("old_docs") < min_docs) & (F.col("n_docs") >= min_docs)
    ).select("h")
    pairs_old = spark.read.parquet(f"{path}/pairs")
    affected_old_ids = (
        pairs_old.join(flipped, "h", "leftsemi").select(id_col).distinct()
    )
    affected_old = corpus_old.join(affected_old_ids, id_col, "leftsemi")

    # dup-hash sets for the rewrite docs, against the MERGED counts:
    # historical hashes keep their old threshold verdict unless flipped,
    # so old-count dups ∪ flipped == merged >= min_docs restricted to
    # the rewrite docs' hashes
    dup_old = counts_old.filter(F.col("n_docs") >= min_docs).select("h")
    dup_all = dup_old.unionByName(
        merged_delta.filter(F.col("n_docs") >= min_docs).select("h")
    ).distinct()
    rewrite_src = df_new.select(
        id_col, tokens_col, *(passthrough or [])
    ).unionByName(
        affected_old.select(id_col, tokens_col, *(passthrough or []))
    )
    rewrite_pairs = token_window_pair_counts_arrow(
        rewrite_src, tokens_col, id_col, k=k, base=base, mod=mod, seed=seed
    ).filter(F.col("h") >= 0)
    per_doc = (
        rewrite_pairs.join(dup_all, "h", "leftsemi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("h")).alias("_dup_hs"))
    )
    out = token_span_dedup_arrow(
        rewrite_src.join(per_doc, id_col, "left"),
        tokens_col,
        "_dup_hs",
        id_col=id_col,
        k=k,
        base=base,
        mod=mod,
        seed=seed,
        passthrough=passthrough,
    )
    # SEVER the rewrite's lineage BEFORE mutating the state: it reads
    # the pairs/counts directories this function is about to
    # append/overwrite (skip_existing's anti-join, dup_old), and
    # Spark's insert path calls refreshByPath on the written directory,
    # which INVALIDATES any cached plan over it — a merely-persisted
    # `out` would silently recompute after the write-back and anti-join
    # the delta against its own freshly-appended ids (measured: 14 rows
    # in-function, 1 row after return). localCheckpoint is immune.
    out = out.localCheckpoint(eager=True)

    # state write-back: merged counts replace the delta's hashes, delta
    # pairs append. Same refreshByPath hazard: new_counts READS the
    # counts directory it overwrites, so checkpoint it first or the
    # insert job recomputes it from the half-deleted input.
    new_counts = (
        counts_old.join(delta_counts.select("h"), "h", "left_anti")
        .unionByName(merged_delta.select("h", "n_docs"))
        .localCheckpoint(eager=True)
    )
    new_counts.write.mode("overwrite").parquet(f"{path}/counts")
    # sentinels included — zero-window delta docs become members too
    pdc_new.select(id_col, "h").write.mode("append").parquet(
        f"{path}/pairs"
    )
    pdc_new.unpersist()
    merged_delta.unpersist()
    return out


def write_minhash_dedup_state(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    bucket: str = "hash",
    threshold: float = 0.5,
    max_bucket: "int | None" = 512,
) -> str:
    """Materialize the STANDING state of MinHash-LSH near-dup detection
    — the document-level sibling of write_token_dedup_state: one
    signature pass over the corpus persists

      * ``bands``: the (doc_id, band, bucket) banding relation — the
        reverse index an append probes to find which EXISTING docs a
        new document collides with, without re-signaturing history;
      * ``pairs``: the verified (doc_a, doc_b, jaccard) near-dup edges
        of the corpus so far — cluster labels (connected components)
        rebuild from THIS compact relation, never from text;
      * ``docs``: every ingested id (membership for idempotent retries
        — degenerate docs have no band rows, the docs relation keeps
        them members anyway);
      * ``meta``: the LSH parameters; an append with mismatched
        hashing/banding fails fast instead of mixing key spaces.

    The initial pairs are the full pipeline's own output
    (lsh_candidate_pairs → verify_candidate_pairs), so state + appends
    stay equivalent to a from-scratch rebuild (asserted in tests)."""
    spark = df.sparkSession
    sigs = minhash_signatures_portable(df, text_col, k, num_perm)
    banded = banded_rows(sigs, bands, rows_per_band, bucket)
    banded.write.mode("overwrite").parquet(f"{path}/bands")
    # pair expansion reads the banding back from the parquet just
    # written — the corpus-wide signature lineage runs ONCE (feeding
    # `banded` into bucket_pairs directly would re-execute the whole
    # shingle+minhash pass for the candidate stage)
    cand = bucket_pairs(
        spark.read.parquet(f"{path}/bands"),
        ["band", "bucket"], "doc_id", "doc_a", "doc_b", max_bucket,
    )
    verify_candidate_pairs(df, cand, text_col, k, threshold).write.mode(
        "overwrite"
    ).parquet(f"{path}/pairs")
    df.select("doc_id").distinct().write.mode("overwrite").parquet(
        f"{path}/docs"
    )
    spark.createDataFrame(
        [(k, num_perm, bands, rows_per_band, bucket, float(threshold))],
        "k int, num_perm int, bands int, rows_per_band int, "
        "bucket string, threshold double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    return path


def append_minhash_dedup(
    df_new: DataFrame,
    corpus_old: DataFrame,
    path: str,
    text_col: str = "text",
    max_bucket: "int | None" = 512,
    skip_existing: bool = True,
) -> DataFrame:
    """Incrementally ingest `df_new` against a write_minhash_dedup_state
    layout and return the NEW verified near-dup pairs — within-delta
    pairs plus every (existing, new) collision — while updating the
    state. The historical corpus is never re-signatured: new docs get
    one signature pass, their band keys probe the persisted banding
    relation (an equi-join on (band, bucket) — the reverse index), and
    exact-Jaccard verification touches only candidate participants
    (fetched from corpus_old ∪ df_new by id).

    `max_bucket` bounds the cross expansion on hot buckets exactly like
    bucket_pairs' cap: at most the first `max_bucket` id-ordered
    existing members pair fully with a colliding new doc, members
    beyond that are represented by the bucket-min star edge — a full
    bucket is by definition a dup cluster, so membership is preserved
    at linear cost. With max_bucket=None append-then-state ≡
    from-scratch rebuild exactly (asserted in tests); capped, the two
    coincide whenever buckets stay under the cap (the oracle-scale
    regime). Retries of a COMPLETED append are idempotent via the docs
    membership anti-join (docs is written last, so a crash mid
    write-back leaves band/pair rows a retry would re-append — the
    three state writes are NOT atomic; run appends under your table
    format's transaction, or restore the state dirs before retrying a
    partial failure)."""
    spark = df_new.sparkSession
    meta = spark.read.parquet(f"{path}/meta").first()
    k, num_perm = int(meta["k"]), int(meta["num_perm"])
    bands, rows_per_band = int(meta["bands"]), int(meta["rows_per_band"])
    bucket_mode, threshold = meta["bucket"], float(meta["threshold"])
    if skip_existing:
        existing = spark.read.parquet(f"{path}/docs")
        df_new = df_new.join(existing, "doc_id", "left_anti")
    sigs_new = minhash_signatures_portable(df_new, text_col, k, num_perm)
    banded_new = banded_rows(
        sigs_new, bands, rows_per_band, bucket_mode
    ).persist()
    # within-delta candidates: the plain capped bucket expansion
    cand_delta = bucket_pairs(
        banded_new, ["band", "bucket"], "doc_id", "doc_a", "doc_b",
        max_bucket,
    )
    # cross candidates: probe the persisted reverse index. Old members
    # per colliding bucket are capped id-ordered (clique-with-the-new
    # up to the cap + bucket-min star edge), mirroring bucket_pairs'
    # hot-bucket contract.
    bands_old = spark.read.parquet(f"{path}/bands")
    hit_old = bands_old.join(
        banded_new.select("band", "bucket").distinct(), ["band", "bucket"]
    )
    grouped_old = hit_old.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("doc_id")).alias("_olds")
    )
    # capped: a new doc pairs with the first max_bucket id-ordered
    # existing members; the slice already CONTAINS the bucket minimum
    # (element 1), so tail members beyond the cap stay reachable
    # transitively through the write-time star edges (keeper, member)
    olds = (
        F.col("_olds")
        if max_bucket is None
        else F.slice(F.col("_olds"), 1, max_bucket)
    )
    cross = (
        banded_new.join(grouped_old, ["band", "bucket"])
        .select(
            F.col("doc_id").alias("_new"),
            F.explode(F.array_distinct(olds)).alias("_old"),
        )
        .select(
            F.least("_new", "_old").alias("doc_a"),
            F.greatest("_new", "_old").alias("doc_b"),
        )
        .distinct()
    )
    cand = cand_delta.unionByName(cross).distinct()
    participants_src = corpus_old.select("doc_id", text_col).unionByName(
        df_new.select("doc_id", text_col)
    )
    new_pairs = verify_candidate_pairs(
        participants_src, cand, text_col, k, threshold
    ).localCheckpoint(eager=True)  # sever lineage before state writes

    banded_new.write.mode("append").parquet(f"{path}/bands")
    new_pairs.write.mode("append").parquet(f"{path}/pairs")
    df_new.select("doc_id").distinct().write.mode("append").parquet(
        f"{path}/docs"
    )
    banded_new.unpersist()
    return new_pairs
