"""Document deduplication operators (SURVEY.md §2.7 beyond-parity layer).

Five dedup families, each DataFrame-native and shuffle-frugal:

- exact          : hash-groupBy on normalized text (one shuffle on a 16-byte
                   key; at 100 TB this is the cheapest possible dedup).
- minhash_lsh    : shingle -> MinHash signature (row-local, inside the scan
                   stage) -> band -> bucket self-join (shuffle on band keys
                   only) -> exact-Jaccard verify of the candidate pairs.
- simhash        : 48-bit SimHash + pigeonhole chunk-join: for Hamming
                   distance <= d, split the fingerprint into d+1 chunks —
                   any near-dup pair shares at least one identical chunk, so
                   the join on (chunk_idx, chunk_value) is EXACT, not
                   approximate, and never compares all pairs.
- ngram_jaccard  : EXACT word-shingle Jaccard via a prefix-filtered
                   inverted-index join (PPJoin prefix principle): only each
                   set's globally-rarest grams are indexed, so the candidate
                   join never touches hot grams and is never all-pairs.
- embedding      : cosine >= t near-dup pairs via multi-table
                   random-hyperplane LSH (shuffle on bucket keys only),
                   exact-cosine verify within collisions.

All hash arithmetic uses the engine-portable h48 family
(functions/hashing.py) so every operator here has an exact DuckDB oracle.

Cache contract: the pair-finding operators persist() intermediates that
feed multiple branches of the RETURNED lazy plan (signatures, prefix
indexes, normalized vectors), and so cannot unpersist before the
caller's action runs.  The caller owns cache hygiene between operator
builds — `spark.catalog.clearCache()`, which the gate wrapper
(__spark_entry__._fresh_cache) and bench harness already do per query;
a long-lived session composing many operators should do the same or the
spilled blocks accumulate for its lifetime.
"""

from __future__ import annotations

from functools import lru_cache, reduce

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from apache_kafka_clickhouse_demo_spark.functions import hashing as H
from apache_kafka_clickhouse_demo_spark.sources.tables import (
    is_wide_source,
    pin_wide,
    spread_small,
)
from apache_kafka_clickhouse_demo_spark.functions import text as TX
from apache_kafka_clickhouse_demo_spark.functions import vectors as V

#: Bound on each memo of row-local expression trees below.  A tree is
#: built over py4j, one JVM round trip per node (100+ ms for the URL and
#: MinHash fronts), yet depends only on its parameters, so it is built once
#: per (live JVM gateway, parameters) and reused by every frame and block.
#: The gateway in the key keeps a JVM relaunched in the same process from
#: being handed columns that lived in the old one.
EXPR_MEMO_SIZE = 32

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical (normalized) texts; keep the smallest id as canonical.

    One shuffle on md5(normalized text) — constant-width key regardless of
    document size, so the shuffle volume is rows x ~50B even at 100 TB.

    NULL text never matches anything (the repo-wide degenerate-doc
    contract the other dedup operators share): each NULL-text document
    keys on its own id, so a corpus of extraction failures does not
    collapse into one giant bogus duplicate group (code-review r6).
    """
    key = F.coalesce(
        F.md5(F.lower(F.trim(F.col(text_col)))),
        F.concat(F.lit("null:"), F.col(id_col).cast("string")),
    )
    return (
        docs.groupBy(key.alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


@lru_cache(maxsize=EXPR_MEMO_SIZE)
def _minhash_columns(gateway, text_col: str, id_col: str, num_perm: int, shingle_n: int):
    """(shingle-frame columns, exploded-shingle columns, hashed-shingle
    columns, per-permutation min aggregates, output columns) of
    `minhash_signatures`."""
    sh = F.array_distinct(TX.word_shingles(TX.tokens(text_col), shingle_n))
    min_aggs = tuple(
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(H.MINHASH_PRIME)).alias(f"_m{k}")
        for k, (a, b) in enumerate(H.minhash_params(num_perm))
    )
    sig = F.array(*[F.col(f"_m{k}") for k in range(num_perm)])
    return (
        (F.col(id_col).alias("doc_id"), sh.alias("shingles")),
        (F.col("doc_id"), F.explode_outer("shingles").alias("s")),
        (F.col("doc_id"), H.h48_mod_p("s").alias("h")),
        min_aggs,
        (F.col("doc_id"), F.col("shingles"), sig.alias("sig")),
    )


def minhash_signature_frames(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 12,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """(`minhash_signatures` frame, the persisted shingle frame it reads
    twice) — for a caller that owns the shingle frame's lifetime and
    unpersists it once the signatures are no longer needed."""
    base_cols, explode_cols, hash_cols, min_aggs, out_cols = _minhash_columns(
        SparkContext._gateway, text_col, id_col, num_perm, shingle_n
    )
    # the interpreted shingle construction is the dominant row-local cost —
    # persist so the hash branch and the join branch both read it once
    base = spread_small(docs).select(*base_cols).persist(StorageLevel.MEMORY_AND_DISK)

    # explode_OUTER: a doc whose shingle array is NULL (NULL text — short
    # docs always yield at least one shingle) must still get a signature row
    # — the oracle computes one (all permutation minima NULL).
    # h48_mod_p(NULL) = NULL, so the min() aggregates below yield exactly
    # those NULLs, and the banding step turns all-NULL band slices into ''
    # keys on both engines.
    hashed = base.select(*explode_cols).select(*hash_cols)
    mins = hashed.groupBy("doc_id").agg(*min_aggs)
    # pin_wide (r9): `mins` is one row per DOCUMENT — corpus-sized — and
    # its static estimate shrinks through the aggregate; on a wide source
    # pin the doc_id shuffle join instead of risking a driver-collect
    # broadcast (the failure the 100x rehearsal caught on substring_dedup)
    sigs = base.join(pin_wide(mins, is_wide_source(docs)), "doc_id").select(*out_cols)
    return sigs, base


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 12,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, shingles, sig) via the CODEGEN hash pipeline.

    The md5s are the dominant cost; inside an array-lambda they run in the
    interpreted HOF evaluator.  Exploding shingles to rows puts the
    md5 + conv in whole-stage codegen, and the per-permutation minima
    become plain codegen `min()` aggregates with map-side partial
    aggregation — the shuffle carries only (doc_id, num_perm mins) per doc
    per partition, far smaller than the data.  Same values as the
    row-local expression form, so the oracle is unchanged.  The shingle
    frame stays persisted (module cache contract);
    `minhash_signature_frames` hands it to a caller that releases it.
    """
    return minhash_signature_frames(docs, text_col, id_col, num_perm, shingle_n)[0]


def band_keys_array(num_perm: int, bands: int) -> Column:
    """Array expression of the `bands` LSH band keys of a `sig` column —
    the ONE banding definition shared by the batch pair-finder, the
    streaming dedup store, and (mirrored) the DuckDB oracle, so all three
    bucket identically."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    rows_per_band = num_perm // bands
    return F.array(
        *[
            F.concat_ws("-", F.slice("sig", j * rows_per_band + 1, rows_per_band))
            for j in range(bands)
        ]
    )


def band_key_rows(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(doc_id, band, band_key): the LSH banding of a signature table —
    shared by the batch pair-finder and the streaming dedup filter so both
    bucket identically (and identically to the DuckDB oracle)."""
    return sigs.select(
        "doc_id", F.posexplode(band_keys_array(num_perm, bands)).alias("band", "band_key")
    )


def jaccard_of(sa_shingles: str, sb_shingles: str) -> Column:
    """Exact Jaccard between two distinct-shingle array columns, with the
    intersect lambda-bound so it is evaluated once."""
    inter = F.size(F.array_intersect(sa_shingles, sb_shingles)).cast("double")
    return F.element_at(
        F.transform(
            F.array(inter),
            lambda x: x / (F.size(sa_shingles) + F.size(sb_shingles) - x),
        ),
        1,
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified by exact Jaccard.

    Plan shape at scale: scan -> (row-local signatures) -> posexplode bands
    -> self-join on (band, band_key) [the ONLY data-sized shuffle, and its
    keys are 8-byte band hashes] -> distinct candidate pairs -> join back for
    shingle sets -> exact Jaccard filter.  Identical-document clusters make
    the band key skewed; AQE skew-join handles it (enabled in session.py).
    """
    # The signature table feeds three plan branches (banding + both verify
    # sides); persist so the expensive row-local signature pass runs once.
    # At cluster scale this would be a checkpoint to engine storage instead.
    wide = is_wide_source(docs)
    sigs = minhash_signatures(docs, text_col, id_col, num_perm, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    banded = band_key_rows(sigs, num_perm, bands)

    # pin_wide on the self-join + verify sides (r9): every one of these
    # frames is corpus-sized; their static estimates pass through persists
    # and aggregates and can land under the broadcast threshold at scale
    cand = (
        banded.alias("a")
        .join(
            pin_wide(banded, wide).alias("b"),
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )

    sh = pin_wide(sigs.select("doc_id", "shingles"), wide)
    verified = (
        cand.join(sh.alias("sa"), cand.id_a == F.col("sa.doc_id"))
        .join(sh.alias("sb"), cand.id_b == F.col("sb.doc_id"))
        .select("id_a", "id_b", jaccard_of("sa.shingles", "sb.shingles").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )
    return verified


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 48  # matches the h48 domain


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash): 48-bit SimHash over token h48 hashes.

    bit_i(doc) = 1 iff more than half the tokens have bit_i set
    (strict majority; ties -> 0).
    """
    # Fully-codegen pipeline: explode tokens to rows, md5-hash in
    # whole-stage codegen, then ONE hash aggregate with 48 conditional sums
    # (bit counts) + a count — the shuffle carries only 49 longs per doc
    # per partition thanks to map-side partial aggregation.
    #
    # explode_OUTER + count("h") + the NULL guard below: a doc with a NULL
    # token array (NULL text) must keep its row with simhash = NULL (the
    # oracle's bit-sums over a NULL hash list are NULL), not silently vanish
    # — and NULL never equi-joins, so such docs produce no pairs on either
    # engine.
    tok_rows = spread_small(docs).select(
        F.col(id_col).alias("doc_id"), F.explode_outer(TX.tokens(text_col)).alias("t")
    ).select("doc_id", H.h48("t").alias("h"))

    counted = tok_rows.groupBy("doc_id").agg(
        F.count("h").alias("_n"),  # non-null hashes only: 0 for empty docs
        *[
            F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1))).alias(f"_c{i}")
            for i in range(SIMHASH_BITS)
        ],
    )
    # majority vote per bit (strict; ties -> 0), weight by 2^i — plain
    # codegen arithmetic over the 48 count columns
    sim = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"_c{i}") * 2 > F.col("_n"), F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    sim = F.when(F.col("_n") > 0, sim)  # empty doc -> NULL simhash, as the oracle
    return counted.select("doc_id", sim.alias("simhash"))


def hamming_pairs(
    hashes: DataFrame,
    bits: int,
    max_hamming: int,
    wide: bool,
    hash_col: str = "simhash",
    id_col: str = "doc_id",
) -> DataFrame:
    """SHARED pigeonhole chunk-join: all (id_a < id_b) pairs whose
    `bits`-bit fingerprints are within Hamming distance `max_hamming`
    (code-review r12: extracted so `simhash_pairs` and the multimodal
    `media_phash_pairs` provably share one banding protocol — the
    ivf_quantize precedent: a copy would let the two silently drift).

    Split the fingerprint into (max_hamming + 1) chunks; any pair
    within distance d shares >= 1 identical chunk, so joining on
    (chunk_idx, chunk_value) finds ALL qualifying pairs without an
    all-pairs comparison — what makes the operator viable at 100 TB.
    The chunk self-join's sides are corpus-sized, so `wide` pins the
    shuffle join (pin_wide — the r9 broadcast-misplan class); NULL
    fingerprints never equi-join, so they produce no pairs.  `hashes`
    is persisted here (both join sides read it; the module's cache
    contract applies).  Output: (id_a, id_b, hamming), ordered.
    """
    n_chunks = max_hamming + 1
    chunk_bits = bits // n_chunks
    hashes = hashes.persist(StorageLevel.MEMORY_AND_DISK)
    chunks = F.array(
        *[
            F.shiftright(hash_col, j * chunk_bits).bitwiseAND(
                F.lit((1 << chunk_bits) - 1)
            )
            for j in range(n_chunks)
        ]
    )
    chunked = hashes.select(
        F.col(id_col).alias("doc_id"),
        F.col(hash_col).alias("_h"),
        F.posexplode(chunks).alias("chunk_idx", "chunk_val"),
    )
    return (
        chunked.alias("a")
        .join(
            pin_wide(chunked, wide).alias("b"),
            on=[
                F.col("a.chunk_idx") == F.col("b.chunk_idx"),
                F.col("a.chunk_val") == F.col("b.chunk_val"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a._h").bitwiseXOR(F.col("b._h"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with Hamming(simhash_a, simhash_b) <= max_hamming — the
    shared pigeonhole chunk-join (`hamming_pairs`) over the 48-bit
    SimHash fingerprints."""
    sims = simhash(docs, text_col, id_col)
    return hamming_pairs(
        sims, SIMHASH_BITS, max_hamming, is_wide_source(docs)
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT Jaccard >= threshold pairs via a prefix-filtered inverted-index
    join (the PPJoin prefix-filter principle, no all-pairs comparison).

    Two sets with Jaccard >= t must share at least one gram among each
    set's "prefix": its (|s| - ceil(t * |s|) + 1) globally-rarest grams.
    So: index ONLY prefixes, join prefixes on the gram, verify candidates
    with the exact Jaccard.  This keeps the operator exact (same oracle as
    the naive form) while the candidate join touches only rare grams —
    frequent grams (the skew killers at 100 TB) sort to the END of the
    frequency order and never enter the index.

    Shuffles: one linear groupBy for gram frequencies, one doc_id window for
    prefix selection, one candidate join keyed on rare grams, one join-back
    for verification — all linear in data size, none quadratic.
    """
    from pyspark.sql import Window as W

    # pin_wide on every corpus-derived join side below (r9): occurrence
    # tables, prefix indexes, sketches, and shingle sets are all
    # corpus-sized, and their static estimates shrink through aggregates /
    # persists — the class of misplan the 100x rehearsal caught
    wide = is_wide_source(docs)
    toks = TX.tokens(text_col)
    # shingle sets feed tokenization AND both verify sides — one pass
    sets = spread_small(docs).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(TX.word_shingles(toks, shingle_n)).alias("grams"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    tokens = sets.select(
        "doc_id", F.size("grams").alias("sz"), F.explode("grams").alias("g")
    )
    freq = tokens.groupBy("g").agg(F.count(F.lit(1)).alias("df"))

    # rank each doc's grams rarest-first; probe-prefix length
    # = sz - ceil(t*sz) + 1, and the smaller doc of a pair additionally
    # only needs its INDEX prefix = sz - ceil(2t/(1+t)*sz) + 1 considered
    # (see the asymmetric join below)
    #
    # FLOAT-BOUNDARY GUARD (code-review r6): the three prune bounds below
    # are rational in exact arithmetic but computed in doubles, and IEEE
    # error can push a product a hair ABOVE an integer it exactly equals
    # (e.g. ceil(0.4/1.4 * 7) = 3 in doubles vs exactly 2), silently
    # TIGHTENING a necessary-condition filter and dropping a pair whose
    # Jaccard sits exactly at the threshold.  Subtracting _EPS before
    # each ceil / comparison makes every prune err only LOOSER (a few
    # extra candidates for the exact verifier), never stricter — which is
    # what keeps the operator's EXACT contract against the naive oracle.
    # _EPS far exceeds double rounding error at these magnitudes while
    # staying below any genuine gap a 2-decimal threshold can produce.
    _EPS = 1e-9
    w = W.partitionBy("doc_id").orderBy("df", "g")
    prefix_len = (
        F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold) - F.lit(_EPS)) + 1
    ).cast("int")
    # index-prefix length (PPJoin §3.2, Xiao et al. WWW'08): in a pair with
    # |A| <= |B| (ties broken by doc_id), overlap >= alpha =
    # ceil(t/(1+t)*(|A|+|B|)) >= ceil(2t/(1+t)*|A|), so by pigeonhole a
    # common gram must appear among A's first |A| - ceil(2t/(1+t)*|A|) + 1
    # grams — a STRICTLY shorter prefix (~0.25*sz at t=0.6 vs the probe
    # prefix's ~0.4*sz).  Only that shorter slice of the smaller side needs
    # to enter the candidate join; the larger side probes with its full
    # probe prefix.  Necessary condition => the operator stays exact; the
    # candidate set shrinks by ~the index/probe length ratio, which is what
    # cuts the verify stage (the dominant cost at scale — SCALING.md).
    index_len = (
        F.col("sz")
        - F.ceil(
            F.col("sz") * F.lit(2.0 * threshold / (1.0 + threshold))
            - F.lit(_EPS)
        )
        + 1
    ).cast("int")
    ranked = tokens.join(pin_wide(freq, wide), "g").withColumn(
        "pos", F.row_number().over(w)
    )
    pref = (
        ranked.filter(F.col("pos") <= prefix_len)
        .select(
            "doc_id",
            "sz",
            "pos",
            "g",
            (F.col("pos") <= index_len).alias("in_index"),
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)  # read by both self-join sides

    # PPJoin length + positional filters (Xiao et al., WWW'08) — both are
    # necessary-condition prunes, so the result stays EXACT:
    # - length: Jaccard >= t forces t*|B| <= |A| (and vice versa);
    # - positional: a match at prefix positions (pa, pb) bounds the possible
    #   overlap by 1 + min(szA - pa, szB - pb), which must reach the
    #   equivalent-overlap threshold ceil(t/(1+t) * (szA + szB)).
    # On low-vocabulary corpora (where every gram is frequent and the bare
    # prefix filter degenerates toward all-pairs) the positional filter is
    # what keeps the candidate set near-linear.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz"))
        - F.lit(_EPS)
    )
    ubound = 1 + F.least(
        F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
    )
    # Asymmetric candidate join: side `a` is the SMALLER doc of the pair
    # (by (sz, doc_id) — the tie-break makes the ordering total, so every
    # pair is generated exactly once) and contributes only its short index
    # prefix; side `b` probes with its full probe prefix.  Output ids are
    # re-canonicalized to id_a < id_b afterwards, so callers and the
    # oracle see the unchanged contract.
    smaller_first = (F.col("a.sz") < F.col("b.sz")) | (
        (F.col("a.sz") == F.col("b.sz"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    matched = (
        # the index side is PRE-filtered to its short index prefix (not an
        # ON-clause condition): the join's build input shrinks ~40% before
        # hashing instead of per-matched-row evaluation
        pref.filter(F.col("in_index"))
        .alias("a")
        .join(
            pin_wide(pref, wide).alias("b"),
            on=[
                F.col("a.g") == F.col("b.g"),
                smaller_first,
                # length filter: |A| <= |B| here, so Jaccard >= t forces
                # |A| >= t * |B|
                F.col("a.sz") >= F.lit(threshold) * F.col("b.sz") - F.lit(_EPS),
                ubound >= alpha,
            ],
        )
    )

    # Sketch prefilter (r8, VERDICT r7 #3): on a low-vocab corpus the
    # PPJoin filters stop pruning (2.4M near-dense distinct candidates at
    # sf0.1 for 256 results) and the distinct shuffle + string intersect
    # become the whole cost.  Bound each matched row's possible overlap
    # with the 1024-bit hashed sketch and drop rows that cannot reach the
    # equivalent-overlap threshold alpha = ceil(t/(1+t)*(|A|+|B|)); the
    # bound is exact-safe (see _SKETCH_WORDS), so the surviving-candidate
    # exact verify below keeps the operator's contract unchanged.
    sk = _gram_sketches(tokens)
    alpha2 = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("sza") + F.col("szb"))
        - F.lit(_EPS)
    )
    ub_overlap = _sketch_and_pc("va", "vb") + F.least(
        F.col("sza") - F.col("pca"), F.col("szb") - F.col("pcb")
    )
    cand = (
        matched.select(
            F.col("a.doc_id").alias("ida"),
            F.col("b.doc_id").alias("idb"),
            F.col("a.sz").alias("sza"),
            F.col("b.sz").alias("szb"),
        )
        .join(
            pin_wide(
                sk.select(
                    F.col("doc_id").alias("ida"),
                    F.col("vec").alias("va"),
                    F.col("pc").alias("pca"),
                ),
                wide,
            ),
            "ida",
        )
        .join(
            pin_wide(
                sk.select(
                    F.col("doc_id").alias("idb"),
                    F.col("vec").alias("vb"),
                    F.col("pc").alias("pcb"),
                ),
                wide,
            ),
            "idb",
        )
        .filter(ub_overlap >= alpha2)
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
        )
        .distinct()
    )

    # verify with the module's shared exact-Jaccard helper (one lambda-
    # bound array_intersect per pair; |union| = szA + szB - |intersect|).
    # Measured dead end recorded so it is not retried: dictionary-encoding
    # the grams to int64 for this verify (deterministic injective
    # rank-in-hash-bucket ids) broke even at 10x scale — the verify got
    # cheaper by exactly the dictionary window + encoded-token persist it
    # added — while slowing the 1x run ~60%; see SCALING.md.
    return (
        cand.join(pin_wide(sets, wide).alias("sa"), cand.id_a == F.col("sa.doc_id"))
        .join(pin_wide(sets, wide).alias("sb"), cand.id_b == F.col("sb.doc_id"))
        .select("id_a", "id_b", jaccard_of("sa.grams", "sb.grams").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


# Fixed-width hashed gram sketch, shared by ngram_jaccard_pairs /
# containment_pairs.  An EXACT-upper-bound prefilter applied to the matched
# candidate rows before the distinct + exact verify:
#
#   overlap <= popcount(va & vb) + min(|A| - popcount(va), |B| - popcount(vb))
#
# (every common gram's bit is set in both sketches, so distinct common bits
# <= popcount(AND); collisions *within the intersection* are collisions
# within either set, bounded by |S| - popcount(vS)).  Candidates whose bound
# can't reach the verify threshold are dropped — and on a low-vocab corpus,
# where the PPJoin filters stop pruning and candidates go near-dense, the
# true overlaps are tiny, so the bound kills almost everything before the
# expensive distinct-shuffle + string-array intersect.
#
# Width is FIXED (1024 bits = 16 longs) so the per-candidate cost is O(16)
# long-ops at ANY corpus scale.  A per-corpus exact-vocab bitmap was the
# measured r8 dead end: verify cost = matched_rows x vocab/64 grows
# quadratically with scale (both factors linear) — 67 s / 99 s at 10x vs
# the sketch's flat constant.  Docs with >> 1024 grams saturate the sketch
# and the bound degrades gracefully to "no prune" (never wrong).  The
# popcount sum is UNROLLED into 16 scalar bit_count terms: higher-order
# functions (aggregate/zip_with) run interpreted per element, while the
# unrolled form stays inside whole-stage codegen.
_SKETCH_WORDS = 16


def _gram_sketches(tokens: DataFrame) -> DataFrame:
    """(doc_id, vec: array<bigint>[_SKETCH_WORDS], pc: popcount(vec)) from
    the exploded (doc_id, g) token rows — per-gram h48 runs in whole-stage
    codegen on rows (not inside an array lambda), then one tiny groupBy
    shuffle of (doc_id, 16 longs) with map-side partial bit_or."""
    nbits = _SKETCH_WORDS * 64
    bp = F.pmod(H.h48(F.col("g")), F.lit(nbits)).cast("int")
    base = tokens.select("doc_id", bp.alias("bp")).select(
        "doc_id",
        F.shiftright("bp", 6).alias("wd"),
        F.expr("shiftleft(cast(1 as bigint), pmod(bp, 64))").alias("bit"),
    )
    words = base.groupBy("doc_id").agg(
        *[
            F.bit_or(
                F.when(F.col("wd") == i, F.col("bit")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias(f"w{i}")
            for i in range(_SKETCH_WORDS)
        ]
    )
    pc = None
    for i in range(_SKETCH_WORDS):
        t = F.bit_count(F.col(f"w{i}"))
        pc = t if pc is None else pc + t
    return words.select(
        "doc_id",
        F.array(*[f"w{i}" for i in range(_SKETCH_WORDS)]).alias("vec"),
        pc.alias("pc"),
    )


def _sketch_and_pc(va: str, vb: str) -> Column:
    """popcount(va & vb) as an unrolled whole-stage-codegen sum."""
    out = None
    for i in range(_SKETCH_WORDS):
        t = F.bit_count(
            F.element_at(va, i + 1).bitwiseAND(F.element_at(vb, i + 1))
        )
        out = t if out is None else out + t
    return out


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT gram-containment pairs: (id_a, id_b) with
    |grams(A) ∩ grams(B)| / |grams(A)| >= threshold, a != b — the
    near-SUPERSET relation Jaccard misses: a short document quoted whole
    inside a long one has tiny Jaccard but containment ~1.  This is the
    boilerplate/quotation-inclusion dedup class (RefinedWeb's "contained"
    duplicates) a training-data pipeline filters separately from
    near-identity.

    Exact prefix filtering, one-sided: containment >= t needs overlap
    >= ceil(t*|A|), so by pigeonhole A's (|A| - ceil(t*|A|) + 1)
    globally-RAREST grams contain a common gram — but B contributes the
    gram from ANYWHERE in its set (no length relation constrains B), so
    the index holds ALL of B's grams while only A's short rare-gram
    prefix probes it.  The index is linear in corpus grams; the join is
    keyed on the PROBE side's rare grams, so the corpus's frequent grams
    (the skew killers) sit in the index but are never probed.  Verify is
    the exact intersect over the containee's set — linear per candidate.

    Output: (id_a, id_b, containment) — id_a is the CONTAINED side;
    both directions of a mutual near-duplicate pair appear.

    Low-vocabulary corpora (r7 verdict fix): with the bare prefix probe,
    candidates = Σ_{g in probe prefixes} df(g), which degenerates toward
    dense when even the rarest grams are frequent (~86 s at sf0.1 for 512
    pairs on the gate fixture).  The containment analogues of PPJoin's
    length and positional filters close that tail while keeping the
    operator EXACT (both are necessary conditions, applied per matched
    join row BEFORE the distinct/verify):

    - length: overlap <= min(|A|,|B|) and overlap >= ceil(t*|A|) force
      |B| >= t*|A| — a containee cannot be meaningfully larger than its
      container.
    - positional: order BOTH sides' grams by the one global (df, g)
      total order.  For a true pair, its FIRST common gram (at positions
      pa in A, pb in B) lies inside A's rare-gram prefix (else A's whole
      prefix misses B and overlap <= ceil(t*|A|)-1) and bounds the
      overlap by 1 + min(|A|-pa, |B|-pb) >= ceil(t*|A|).  A frequent
      gram ranks LATE in every doc that holds it, so exactly the probes
      that fan out widest (frequent-gram matches) die on |B|-pb being
      too small — the degenerate corpus is the one this filter prunes
      hardest.  Keeping a pair when ANY matched row passes preserves
      exactness: the first-common-gram row always passes for true pairs.

    Measured at sf0.1, the filters alone still left a near-dense 6.1M
    distinct-candidate set on the 931-gram fixture (low-vocab corpora
    make EVERY pair a candidate), so a fixed-width hashed gram sketch
    (see _SKETCH_WORDS) bounds each matched row's possible overlap and
    drops the rows that cannot reach ceil(t*|A|) BEFORE the distinct +
    exact verify.  The bound is a necessary condition, so the operator
    stays exact and the oracle is one SQL text.
    """
    from pyspark.sql import Window as W

    # pin_wide on every corpus-derived join side (r9) — same rationale as
    # ngram_jaccard_pairs: static estimates of these aggregates/persists
    # are unreliable, and a misplanned broadcast is fatal at corpus scale
    wide = is_wide_source(docs)
    toks = TX.tokens(text_col)
    sets = spread_small(docs).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(TX.word_shingles(toks, shingle_n)).alias("grams"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    tokens = sets.select(
        "doc_id", F.size("grams").alias("sz"), F.explode("grams").alias("g")
    )
    freq = tokens.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    _EPS = 1e-9
    w = W.partitionBy("doc_id").orderBy("df", "g")
    prefix_len = (
        F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold) - F.lit(_EPS)) + 1
    ).cast("int")
    # one ranked pass feeds BOTH sides: the probe keeps only A's rare-gram
    # prefix; the index holds all of B's grams but carries pb for the
    # positional prune (persisted — read by the two self-join sides)
    ranked = (
        tokens.join(pin_wide(freq, wide), "g")
        .withColumn("pos", F.row_number().over(w))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # explicit string aliases on each side: a bare `probe.g == index.g`
    # on two frames sharing `ranked`'s lineage resolves both sides to the
    # SAME attribute (Spark warns "trivially true equals predicate") and
    # the gram key silently drops out of the join
    probe = ranked.filter(F.col("pos") <= prefix_len).select(
        F.col("doc_id").alias("id_a"),
        F.col("sz").alias("sza"),
        F.col("pos").alias("pa"),
        "g",
    ).alias("pr")
    index = ranked.select(
        F.col("doc_id").alias("id_b"),
        F.col("sz").alias("szb"),
        F.col("pos").alias("pb"),
        "g",
    ).alias("ix")
    need = F.ceil(F.lit(threshold) * F.col("pr.sza") - F.lit(_EPS))
    matched = probe.join(
        pin_wide(index, wide),
        on=[
            F.col("pr.g") == F.col("ix.g"),
            F.col("pr.id_a") != F.col("ix.id_b"),
            # length filter: overlap <= |B| must reach ceil(t*|A|)
            F.col("ix.szb")
            >= F.lit(threshold) * F.col("pr.sza") - F.lit(_EPS),
            # positional filter: overlap <= 1 + min(|A|-pa, |B|-pb)
            F.lit(1)
            + F.least(
                F.col("pr.sza") - F.col("pr.pa"),
                F.col("ix.szb") - F.col("ix.pb"),
            )
            >= need,
        ],
    )

    # Sketch prefilter (r8; see _SKETCH_WORDS): bound each matched row's
    # possible overlap and drop rows that cannot reach ceil(t*|A|) before
    # the distinct + exact verify — on the low-vocab corpus this is what
    # turns a 6.1M near-dense candidate set into ~|result|.
    sk = _gram_sketches(tokens)
    ub_overlap = _sketch_and_pc("va", "vb") + F.least(
        F.col("sza") - F.col("pca"), F.col("szb") - F.col("pcb")
    )
    cand = (
        matched.select("id_a", "sza", "id_b", "szb")
        .join(
            pin_wide(
                sk.select(
                    F.col("doc_id").alias("id_a"),
                    F.col("vec").alias("va"),
                    F.col("pc").alias("pca"),
                ),
                wide,
            ),
            "id_a",
        )
        .join(
            pin_wide(
                sk.select(
                    F.col("doc_id").alias("id_b"),
                    F.col("vec").alias("vb"),
                    F.col("pc").alias("pcb"),
                ),
                wide,
            ),
            "id_b",
        )
        .filter(
            ub_overlap
            >= F.ceil(F.lit(threshold) * F.col("sza") - F.lit(_EPS))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    inter = F.size(F.array_intersect("sa.grams", "sb.grams"))
    return (
        cand.join(pin_wide(sets, wide).alias("sa"), cand.id_a == F.col("sa.doc_id"))
        .join(pin_wide(sets, wide).alias("sb"), cand.id_b == F.col("sb.doc_id"))
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / F.size("sa.grams")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    dim: int = 64,
    num_tables: int = 8,
    planes_per_table: int = 4,
    seed: int = 101,
) -> DataFrame:
    """Cosine >= threshold pairs via multi-table random-hyperplane LSH.

    Candidate pairs are vectors that collide in at least one of
    `num_tables` independent LSH tables (each table = `planes_per_table`
    sign bits); collisions are verified with the exact cosine.  The join
    key is (table, bucket) — the corpus is shuffled once onto bucket keys,
    never compared all-pairs, which is what survives 100 TB.  Recall is
    tunable: P(candidate) = 1 - (1 - p^P)^L with p = 1 - angle/pi.

    The hyperplanes come from the deterministic shared LCG
    (similarity.rp_hyperplanes), so the DuckDB oracle reproduces the exact
    same candidate set bit-for-bit — the correctness check is exact for the
    algorithm, not an approximation of the ideal answer.
    """
    from apache_kafka_clickhouse_demo_spark.operators.similarity import (
        rp_bucket,
        rp_hyperplanes,
    )

    # pin_wide on the bucket self-join + verify sides (r9): all three
    # frames are corpus-sized; see sources/tables.py for the misplan class
    wide = is_wide_source(emb)
    # pre-normalize once (behind the persist): every pairwise verify is then
    # a single dot product instead of dot + two norms
    vecs = spread_small(emb).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        V.normalize(F.col(vec_col)).alias("nv"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    buckets = F.array(
        *[
            rp_bucket(F.col("v"), rp_hyperplanes(planes_per_table, dim, seed + t))
            for t in range(num_tables)
        ]
    )
    # num_tables x planes dot products per row — compute once, read twice
    tabled = vecs.select(
        "vid", F.posexplode(buckets).alias("tbl", "bucket")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    cand = (
        tabled.alias("a")
        .join(
            pin_wide(tabled, wide).alias("b"),
            on=[
                F.col("a.tbl") == F.col("b.tbl"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.vid") < F.col("b.vid"),
            ],
        )
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .distinct()
    )

    return (
        cand.join(pin_wide(vecs, wide).alias("va"), cand.id_a == F.col("va.vid"))
        .join(pin_wide(vecs, wide).alias("vb"), cand.id_b == F.col("vb.vid"))
        .select("id_a", "id_b", V.dot("va.nv", "vb.nv").alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Train/test decontamination
# ---------------------------------------------------------------------------


def cross_split_contamination(
    docs: DataFrame,
    split_col: str = "split",
    shingle_n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    report_split: str = "test",
    against_split: str = "train",
) -> DataFrame:
    """Decontamination check for a train/test split: every `report_split`
    document that shares at least one `shingle_n`-gram with ANY
    `against_split` document, with the count of shared distinct shingles.
    13 words is the standard contamination window for LLM eval
    decontamination.  The default direction reports contaminated TEST docs
    (eval-integrity audit); flipping to report_split='train' yields the
    train docs to DROP before training (the corpus-prep direction).

    `docs` must carry `split_col` with values covering both names (compose
    with the deterministic hash split upstream).

    Plan shape at 100 TB: explode distinct shingles -> h48 -> one
    equi-join keyed on the 8-byte shingle hash between the reported side
    and the distinct-ed other side (shuffle on hash keys only, never
    all-pairs).  When one side is small relative to the other — the usual
    case — flip the join so the small shingle set broadcasts (or becomes a
    bloom filter pushed into the big scan); the equi-join form here is
    the general-case fallback.
    """
    sh = spread_small(docs).select(
        F.col(id_col).alias("doc_id"),
        F.col(split_col).alias("split"),
        F.explode(
            F.array_distinct(TX.word_shingles(TX.tokens(text_col), shingle_n))
        ).alias("s"),
    ).select("doc_id", "split", H.h48("s").alias("h"))
    against_h = sh.filter(F.col("split") == against_split).select("h").distinct()
    return (
        # pin_wide (r9): both shingle-hash sides are corpus-sized when the
        # source is — the "flip to broadcast" note in the docstring is for
        # a caller whose against-side is KNOWN small, not a static guess
        sh.filter(F.col("split") == report_split)
        .join(pin_wide(against_h, is_wide_source(docs)), "h")
        .groupBy("doc_id")
        .agg(F.countDistinct("h").alias("n_shared_shingles"))
        .orderBy("doc_id")
    )


#: Bloom filter defaults: 2^23 bits (1 MiB broadcast) at k=4 probes gives
#: ~2.4% false-positive rate at 1M distinct test grams — FPs cost only a
#: little extra exact-verify work, never correctness
BLOOM_BITS = 1 << 23
BLOOM_PROBES = 4


def bloom_decontaminate(
    docs: DataFrame,
    shingle_n: int = 13,
    text_col: str = "text",
    split_col: str = "split",
    id_col: str = "doc_id",
    report_split: str = "train",
    against_split: str = "test",
    m_bits: int = BLOOM_BITS,
    k: int = BLOOM_PROBES,
) -> DataFrame:
    """`cross_split_contamination` through a Bloom-filter prefilter — the
    DCLM/Dolma-style decontamination pass shaped for the corpus-scale
    asymmetry: the TEST/eval side is small and fixed, the TRAIN side is
    the whole 100 TB corpus.  The direct equi-join shuffles EVERY train
    gram; here the test side's distinct gram hashes are folded into a
    fixed-size Bloom bitmap (`m_bits` bits as m/64 longs — a table whose
    size is set by CONSTRUCTION, never by data), the bitmap words are
    broadcast, and every train gram probes them row-locally in codegen.
    Only the hits — true contaminated grams plus the filter's small FP
    rate — enter the exact hash equi-join, so the train-side shuffle
    shrinks from O(corpus grams) to O(contamination).

    EXACT by two-phase construction: a Bloom filter has no false
    negatives (every true shared gram hits all k probes), and every hit
    is confirmed by the same exact h48 equi-join the direct operator
    runs — false positives die there, costing only work.  Output is
    byte-identical to `cross_split_contamination` (same oracle SQL):
    (doc_id, n_shared_shingles) over the report side.

    Plan shape at 100 TB: test grams fold with one groupBy(word_idx)
    bit_or — at most m/64 rows out; the word table broadcasts (explicit,
    bounded: 1 MiB at the default m); train probes are a row-local
    broadcast-hash join + k element_at/bit tests in whole-stage codegen;
    the surviving hits shuffle into the exact join.  Size `m_bits` at
    ~10 bits per expected distinct test gram; undersizing only raises the
    FP rate (more exact-verify work), never changes the answer.
    """
    if m_bits <= 0 or m_bits % 64 != 0:
        # m_bits=0 would make every pmod(x, 0) probe NULL — silent false
        # negatives (empty output), the one failure a Bloom prefilter must
        # never have.  Reject instead of mis-filtering.
        raise ValueError("m_bits must be a positive multiple of 64")
    if k < 1:
        raise ValueError("k must be >= 1")
    sh = spread_small(docs).select(
        F.col(id_col).alias("doc_id"),
        F.col(split_col).alias("split"),
        F.explode(
            F.array_distinct(TX.word_shingles(TX.tokens(text_col), shingle_n))
        ).alias("s"),
    ).select("doc_id", "split", H.h48("s").alias("h"))
    against_h = sh.filter(F.col("split") == against_split).select("h").distinct()

    # probe positions: k independent 64-bit rehashes of the 48-bit gram
    # hash (JVM-side only — the filter is invisible in the output, so the
    # oracle never mirrors it).  SQL-expr form because the PySpark
    # `shiftleft` wrapper only takes a literal shift amount.
    def word_idx(i: int) -> Column:
        return F.expr(f"cast(pmod(xxhash64(h, {i}), {m_bits}) div 64 as int)")

    def bit(i: int) -> Column:
        return F.expr(
            f"shiftleft(cast(1 as bigint),"
            f" cast(pmod(xxhash64(h, {i}), {m_bits}) % 64 as int))"
        )

    # fold the test grams into bitmap words: one shuffle keyed by word
    # index (<= m/64 distinct keys), map-side combinable bit_or
    words = (
        against_h.select(
            F.explode(
                F.array(*[
                    F.struct(word_idx(i).alias("word_idx"), bit(i).alias("bit"))
                    for i in range(k)
                ])
            ).alias("p")
        )
        .select("p.word_idx", "p.bit")
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )

    # row-local probe: LEFT broadcast join per probe word; a train gram is
    # a bloom hit iff EVERY probe bit is set.  k joins against the same
    # <= m/64-row broadcast table keep the whole check inside one codegen
    # stage — no train-side exchange before the hit filter.
    train = sh.filter(F.col("split") == report_split)
    hit_cond = []
    for i in range(k):
        w = words.select(
            F.col("word_idx").alias(f"_wi{i}"), F.col("word").alias(f"_wd{i}")
        )
        train = train.join(
            F.broadcast(w), word_idx(i) == F.col(f"_wi{i}"), "left"
        )
        hit_cond.append(
            F.coalesce(
                F.col(f"_wd{i}").bitwiseAND(bit(i)) != 0, F.lit(False)
            )
        )
    hits = train.filter(reduce(lambda a, b: a & b, hit_cond)).select(
        "doc_id", "h"
    )

    # exact confirm — identical decision rule to cross_split_contamination
    return (
        hits.join(pin_wide(against_h, is_wide_source(docs)), "h")
        .groupBy("doc_id")
        .agg(F.countDistinct("h").alias("n_shared_shingles"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Cluster assignment (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, cluster_id): every node labeled with the smallest id reachable
    through the pair graph — the step that turns pairwise near-dup output
    into "keep one doc per duplicate group".

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014 — r14, VERDICT r13
    #5).  The previous min-label propagation joined the FULL edge list
    against the label table every round, so on a duplication-heavy
    graph (media_phash_clusters' 100x rehearsal: a 19.6M-row pair
    blow-up) every iteration re-shuffled the quadratic edge set.  The
    star operations instead REWRITE the edge set itself, and on
    clique/star-shaped dedup graphs the first large-star collapses each
    clique's O(k^2) edges to O(k) — per-round work is bounded by the
    SURVIVING edge set, not the input edge list.

    large-star: for each node u, every strictly-larger neighbor is
    re-pointed at min(N(u) + {u}).  small-star: every edge (lo, hi) is
    re-pointed at min of hi's smaller neighborhood.  Both preserve
    connectivity and only ever decrease partner ids; at the fixpoint
    the edges form stars rooted at each component's MINIMUM id (the
    paper's Theorem 3), which is exactly this operator's output
    contract — so the rewrite is hash-checkable against the recursive-
    CTE oracles for free.

    Each round is two groupBy-min + join passes over the CURRENT edge
    set with a distinct() to collapse rewritten duplicates; a LAZY
    localCheckpoint cuts lineage and the convergence signature
    (edge count + sum of xxhash64(lo, hi)) right after it is the single
    action that materializes the round.  Isolated nodes never enter the
    loop and are attached back with label = self at the end.  Exhausting
    max_iter without convergence raises — a silently-partial clustering
    must never reach a dedup decision.
    """
    # canonical undirected edges (lo < hi), deduped once up front
    e = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("lo"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _large_star(edges: DataFrame) -> DataFrame:
        adj = edges.select(
            F.col("lo").alias("u"), F.col("hi").alias("v")
        ).unionByName(edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
        m = adj.groupBy("u").agg(
            F.min(F.least(F.col("v"), F.col("u"))).alias("m")
        )
        # (v, m) for every neighbor v > u: m <= u < v, so the emitted
        # edge is canonical (lo=m, hi=v) and never a self-loop
        return (
            adj.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .distinct()
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        m = edges.groupBy("hi").agg(F.min("lo").alias("m"))
        j = edges.join(m, "hi")
        # re-point hi's smaller neighborhood at its min: (lo_i, m) for
        # every lo_i != m, plus (hi, m) — m <= lo_i < hi keeps both
        # canonical and loop-free
        a = (
            j.filter(F.col("lo") != F.col("m"))
            .select(F.col("m").alias("lo"), F.col("lo").alias("hi"))
        )
        b = j.select(F.col("m").alias("lo"), F.col("hi")).distinct()
        return a.unionByName(b).distinct()

    prev_sig = None
    converged = False
    for _round in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        row = e.agg(
            F.count(F.lit(1)).alias("c"),
            # decimal(38,0) accumulate: a long sum of 64-bit hashes
            # overflows under ANSI mode on the first collision-free pair
            F.sum(F.xxhash64("lo", "hi").cast("decimal(38,0)")).alias("h"),
        ).first()
        sig = (row["c"], row["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # at the fixpoint every non-root node appears as `hi` of exactly one
    # star edge whose `lo` is its component minimum (min() is belt and
    # braces, not load-bearing); roots and isolated nodes label self
    labels = e.groupBy("hi").agg(F.min("lo").alias("label")).select(
        F.col("hi").alias("node"), "label"
    )
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(labels, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("label", "node").alias("cluster_id"),
        )
    )


def cluster_representatives(
    labeled: DataFrame,
    scored: DataFrame,
    wide: bool,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "score_milli",
) -> DataFrame:
    """Pick ONE representative per duplicate cluster — the "which copy do
    we keep" policy step between `connected_components` and the final
    corpus (near-dup pipelines keep the BEST copy, not an arbitrary one:
    cf. the quality-ranked dedup of the RefinedWeb/FineWeb recipes).

    labeled = (id, cluster_id) from connected_components; scored =
    (id, score) from any integer-exact scorer (e.g. quality_classifier's
    milli-weights).  Output: (cluster_id, rep_doc_id, cluster_size,
    rep_score_milli) — the member with the highest score, ties broken on
    smallest id so the kept set is deterministic.  Contract: `scored`
    covers every labeled id (true for the in-repo scorers, which emit
    one row per input doc) — the join is INNER, so an unscored member
    can neither win nor count toward cluster_size; feed a scorer with
    gaps through a coalesce-to-minimum projection first.

    `wide` is the operator's source-computed wideness flag (pin_wide
    contract: both inputs are DERIVED frames — a CC fixpoint and a
    scorer aggregate — whose size estimates are exactly what cannot be
    trusted, so the caller passes is_wide_source(<source scan>)).

    Plan shape at 100 TB: one id-keyed equi-join (shuffle, both sides
    corpus-sized — pinned when wide) and ONE min-aggregate per cluster
    keyed by cluster_id with map-side partials; the arg-max is the
    sortable-struct min (neg score, id) — never a per-cluster window,
    which would funnel mega-clusters (the realistic skew case: boiler-
    plate cliques) through single tasks.
    """
    j = labeled.select(
        F.col(id_col).alias("_id"), F.col(cluster_col).alias("cluster_id")
    ).join(
        pin_wide(
            scored.select(F.col(id_col).alias("_id"), F.col(score_col).alias("_s")),
            wide,
        ),
        "_id",
    )
    return j.groupBy("cluster_id").agg(
        F.min(F.struct((-F.col("_s")).alias("ns"), F.col("_id").alias("id"))).alias(
            "_m"
        ),
        F.count(F.lit(1)).cast("int").alias("cluster_size"),
    ).select(
        "cluster_id",
        F.col("_m.id").alias("rep_doc_id"),
        "cluster_size",
        (-F.col("_m.ns")).alias("rep_score_milli"),
    )


def cluster_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    train_pct: int,
    salt: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Leakage-safe train/test split (r15): assign every NEAR-DUP
    cluster ATOMICALLY to one side — h48(salt || cluster_id) buckets
    the component label, and every member follows its label.

    A plain per-doc hash split (`train_test_split`) leaks test
    near-duplicates into train: two 99%-identical crawls of the same
    page hash independently, and one lands on each side — the
    contamination mode Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better") measure as inflated eval scores.
    Keying the bucket on the connected-component label makes that
    structurally impossible (near-dups share a component by
    construction) while keeping the split deterministic, engine-
    independent, and re-run-stable — the same properties
    train_test_split guarantees per-doc.

    Output: (doc_id, cluster_id, split).  Singleton docs are their own
    cluster (connected_components contract), so non-duplicated docs
    split i.i.d. exactly like the per-doc hash split.

    Plan shape at 100 TB: `pairs` is the proven banded/pigeonhole edge
    set and `connected_components` the large-star/small-star fixpoint;
    the split itself adds ZERO shuffles — one row-local hash projection
    on the CC output."""
    labeled = connected_components(docs.select(id_col), pairs)
    bucket = H.h48(
        F.concat(F.lit(salt), F.col("cluster_id").cast("string"))
    ) % 100
    return labeled.select(
        id_col,
        "cluster_id",
        F.when(bucket < train_pct, F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.9,
    target_centroids: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "ivf:",
    corpus_count: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then drop all
    but one member of every WITHIN-cluster group of semantic near-
    duplicates — the published recipe for pruning web-scale training data
    by meaning rather than surface form (where MinHash sees token overlap,
    this sees paraphrases).

    Spark-first composition of existing pieces:

    - centroids: the IVF deterministic hash-sample (`similarity.ivf_topk`'s
      quantizer — fixed expected count at any corpus size, so the
      broadcast stays constant and the whole operator remains exactly
      oracle-checkable; a k-means fit would probe better but is not
      cross-engine reproducible);
    - assignment: argmax cosine over the broadcast centroids, folded into
      one max_by hash aggregate (codegen, map-side partials);
    - dedup: within each cell ONLY, pairs (a < b) with cos >= threshold
      mark b as dropped; survivors = corpus minus dropped.  The pairwise
      stage shuffles by cell id and is quadratic in CELL size, not corpus
      size — exactly SemDeDup's cost model.  By default `target_centroids`
      derives itself as isqrt(n) (see `ivf_quantize`), so cell size grows
      as sqrt(n) instead of linearly; pass an explicit K to override.
      Keep-smallest-id is
      the determinism rule (the paper keeps the member farthest from the
      centroid; any single-representative rule satisfies its objective,
      and id order is the one the other dedup operators already use).

    Output: surviving `id_col` rows.  Cross-cell near-duplicates are NOT
    dropped (the paper's stated approximation); the RP-LSH
    `embedding_near_dup_pairs` is the cross-partition-exact alternative.

    The quantizer IS `similarity.ivf_quantize` — the same code object
    `ivf_topk` runs, so the claimed centroid/assignment parity cannot
    drift.  Survivors anti-join the INPUT corpus, not the assignment
    table: a corpus whose hash-sample yields zero centroids (possible —
    data-dependent) then deduplicates nothing instead of silently
    dropping every row (code-review mid-r6).
    """
    from apache_kafka_clickhouse_demo_spark.operators.similarity import (
        ivf_quantize,
    )

    _cents, assign = ivf_quantize(
        emb, target_centroids, vec_col, id_col, salt, corpus_count
    )
    assign = assign.persist(StorageLevel.MEMORY_AND_DISK)
    dropped = (
        assign.alias("a")
        .join(assign.alias("b"), on="cent_id")
        .filter(F.col("a.vid") < F.col("b.vid"))
        .filter(V.dot("a.nv", "b.nv") >= F.lit(threshold))
        .select(F.col("b.vid").alias(id_col))
        .distinct()
    )
    return (
        emb.select(id_col)
        .join(dropped, id_col, "left_anti")
        .orderBy(id_col)
    )


# ---------------------------------------------------------------------------
# URL / host-level dedup (r10): the CCNet/RefinedWeb dedupe-by-URL pass
# that runs BEFORE any content dedup — the cheapest dedup in the pipeline
# (no shingling, no signatures) and the one that removes re-crawls of the
# same page outright.  Beyond-parity LLM-pipeline layer; the reference has
# no URL operators (its whole spec is README.rst's school-attendance SQL).
# ---------------------------------------------------------------------------


def url_parts(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    suffixes: tuple[str, ...] = TX.PUBLIC_SUFFIXES,
) -> DataFrame:
    """(doc_id, url_norm, reg_domain) per document — the shared row-local
    front of both URL operators.  Pure builtin string/array expressions
    (functions/text.py URL primitives): whole-stage codegen, zero
    exchanges, scan throughput at 100 TB.

    NULL or unparseable URLs (no `scheme://`) yield NULL url_norm and
    NULL reg_domain rather than collapsing into a shared '' / '://' key —
    the repo-wide degenerate-doc contract (see exact_dedup): a corpus of
    extraction failures must never fold into one giant bogus duplicate
    group."""
    return spread_small(docs).select(
        *_url_part_columns(SparkContext._gateway, url_col, id_col, tuple(suffixes))
    )


@lru_cache(maxsize=EXPR_MEMO_SIZE)
def _url_part_columns(
    gateway, url_col: str, id_col: str, suffixes: tuple[str, ...]
) -> tuple[Column, ...]:
    u = F.col(url_col)
    valid = u.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://")
    host = TX.url_host(u)
    return (
        F.col(id_col).alias("doc_id"),
        F.when(valid, TX.url_normalize(u)).alias("url_norm"),
        F.when(valid, TX.registered_domain(host, suffixes)).alias("reg_domain"),
    )


def url_dedup(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    suffixes: tuple[str, ...] = TX.PUBLIC_SUFFIXES,
) -> DataFrame:
    """Exact URL-level dedup after canonicalization: one survivor (lowest
    id — deterministic, retryable) per canonical URL.

    Plan shape at 100 TB: the row-local `url_parts` projection, then ONE
    hash shuffle keyed by url_norm with map-side partial min — the same
    single-exchange shape as `dedup_exact`, and strictly cheaper than any
    content dedup that would otherwise see the re-crawls.  reg_domain is
    functionally dependent on url_norm (derived from its host), so
    grouping by both adds no key cardinality and keeps the column without
    a second pass.  Invalid-URL docs (NULL url_norm) key on their own id —
    each survives as its own group with a NULL canonical URL."""
    parts = url_parts(docs, url_col, id_col, suffixes)
    key = F.coalesce(
        F.col("url_norm"), F.concat(F.lit("invalid:"), F.col("doc_id").cast("string"))
    )
    return (
        parts.groupBy(key.alias("_k"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("url_norm").alias("url_norm"),
            F.min("reg_domain").alias("reg_domain"),
        )
        .select("doc_id", "url_norm", "reg_domain")
    )


def domain_doc_counts(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    suffixes: tuple[str, ...] = TX.PUBLIC_SUFFIXES,
) -> DataFrame:
    """Per-registered-domain rollup: total docs and distinct canonical
    URLs — the statistics a per-domain quota / domain-mix policy consumes
    (CCNet keeps per-domain counts to cap over-represented hosts).

    Plan shape at 100 TB: two-level aggregate — partial count per
    (reg_domain, url_norm), then per-domain counts — both shuffles are
    map-side combinable and the second one's input is one row per
    DISTINCT URL, already far smaller than the corpus.  A skewed mega-
    domain only concentrates its post-distinct row set, which AQE's skew
    handling splits if it matters."""
    per_url = (
        url_parts(docs, url_col, id_col, suffixes)
        .groupBy("reg_domain", "url_norm")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    return (
        per_url.groupBy("reg_domain")
        .agg(
            F.sum("n_dup").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_urls"),
        )
    )


def domain_cap(
    docs: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    suffixes: tuple[str, ...] = TX.PUBLIC_SUFFIXES,
    pre_shards: int = 16,
    two_level: bool | None = None,
) -> DataFrame:
    """Per-domain quota: keep at most `cap` docs per registered domain —
    the LOWEST ids, so the result is deterministic and retry-stable
    (CCNet-style capping of over-represented hosts after URL dedup).

    Exact SKEW-SAFE top-k in two levels above the wide-source bound: a
    naive `row_number() OVER (PARTITION BY domain ORDER BY id)` puts a
    mega-domain's every row into ONE sorted task — a 1B-doc domain at
    100 TB is a ~50 GB single-partition sort.  Instead (1) rank within
    (domain, id-hash shard) partitions and keep each shard's `cap`
    smallest — the global cap smallest are necessarily among the union of
    per-shard cap smallest — then (2) rank the <= pre_shards x cap
    survivors per domain.  Phase 2's partitions are bounded by
    CONSTRUCTION, so no key distribution can recreate the skew.

    `two_level` defaults to `is_wide_source(docs)` — the same
    small-fast / scale-safe split as pin_wide/bcast_small: under the
    bound the single-window plan's ONE shuffle was measured ~15-20%
    faster (a 4M-row 99%-one-domain local test ran 2.7 s naive vs 3.1 s
    two-level — local sorts of narrow rows are cheap; the pathology is a
    cluster-scale single-task sort), and equality of the two forms is
    pytest-pinned."""
    from pyspark.sql import Window as W

    if two_level is None:
        two_level = is_wide_source(docs)
    parts = url_parts(docs, url_col, id_col, suffixes)
    if two_level:
        shard = F.pmod(F.xxhash64("doc_id"), F.lit(pre_shards))
        w1 = W.partitionBy("reg_domain", shard.alias("_s")).orderBy("doc_id")
        parts = (
            parts.withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= cap)
            .drop("_r1")
        )
    w2 = W.partitionBy("reg_domain").orderBy("doc_id")
    return (
        parts.withColumn("domain_rank", F.row_number().over(w2))
        .filter(F.col("domain_rank") <= cap)
        .select("doc_id", "url_norm", "reg_domain", "domain_rank")
    )


def domain_token_cap(
    docs: DataFrame,
    budget: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
    suffixes: tuple[str, ...] = TX.PUBLIC_SUFFIXES,
    pre_shards: int = 16,
    two_level: bool | None = None,
) -> DataFrame:
    """Per-domain TOKEN budget (r15): keep each registered domain's
    lowest-id docs while the running whitespace-token total stays
    within `budget` — the token-level form of `domain_cap`, because an
    LLM training mixture is specified in TOKENS per source, not doc
    counts (a domain of 10-word stubs and a domain of 10k-word articles
    should not get the same doc quota).

    Charge model: every doc charges greatest(ws_tokens, 1) — the same
    whitespace token count as `token_counts`, floored at 1 so a
    zero-token doc is not infinitely admissible.  A doc is kept iff its
    cumulative charge, in doc_id order within the domain, is <= budget;
    lowest-id-first makes the kept set deterministic and retry-stable
    (domain_cap's contract).

    Skew safety, exact BY CONSTRUCTION: the >=1 floor means no doc with
    per-domain id-rank > budget can ever fit, so phase 1 prunes with
    domain_cap's exact two-level rank at cap=budget (per-(domain,
    id-hash shard) rank, keep each shard's `budget` smallest — the
    union provably contains every admissible doc), and phase 2's
    running-sum window partitions are <= budget rows regardless of the
    domain's true size — a mega-domain never lands one unbounded sorted
    task.  `two_level` defaults to `is_wide_source(docs)`, the
    small-fast / scale-safe split domain_cap documents."""
    from pyspark.sql import Window as W

    if two_level is None:
        two_level = is_wide_source(docs)
    u = F.col(url_col)
    valid = u.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://")
    host = TX.url_host(u)
    t = F.trim(F.lower(F.col(text_col)))
    charge = F.greatest(F.size(F.split(t, r"\s+")), F.lit(1)).cast("long")
    parts = spread_small(docs).select(
        F.col(id_col).alias("doc_id"),
        F.when(valid, TX.registered_domain(host, suffixes)).alias("reg_domain"),
        charge.alias("doc_tokens"),
    )
    if two_level:
        shard = F.pmod(F.xxhash64("doc_id"), F.lit(pre_shards))
        w1 = W.partitionBy("reg_domain", shard.alias("_s")).orderBy("doc_id")
        parts = (
            parts.withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= budget)
            .drop("_r1")
        )
    w2 = (
        W.partitionBy("reg_domain")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        parts.withColumn("cum_tokens", F.sum("doc_tokens").over(w2))
        .filter(F.col("cum_tokens") <= budget)
        .select("doc_id", "reg_domain", "doc_tokens", "cum_tokens")
    )


def boilerplate_lines(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_frac: float = 0.5,
    min_docs: int = 2,
    suffixes: tuple[str, ...] = TX.PUBLIC_SUFFIXES,
) -> DataFrame:
    """Domain-level boilerplate-line removal (the RefinedWeb/CCNet
    line-wise correction): a line occurring in at least `min_frac` of a
    registered domain's docs (and at least `min_docs` of them) is
    boilerplate — nav bars, cookie banners, copyright footers — and is
    stripped from every doc of that domain.  Returns
    (doc_id, clean_text, n_lines, n_removed).

    Plan shape at 100 TB: posexplode lines (row-local) -> distinct
    (domain, line, doc) -> per-(domain, line) distinct-doc count joined
    against per-domain doc counts (both map-side combinable aggregates
    keyed by domain[, line]) -> LEFT ANTI join of the line rows against
    the boilerplate set (equi-join on (domain, line); the set is
    corpus-derived, so it is pin_wide-pinned on wide sources) -> regroup
    surviving lines by doc in original order.  Line rows ~ corpus size:
    every stage is an equi-keyed shuffle or row-local; nothing all-pairs,
    nothing driver-side.  Docs whose every line is boilerplate keep an
    empty clean_text (''), and NULL-text docs pass through with
    clean_text NULL — extraction failures are preserved, not invented."""
    wide = is_wide_source(docs)
    base = url_parts(docs, url_col, id_col, suffixes).select("doc_id", "reg_domain")
    lines = (
        spread_small(docs)
        .select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .join(pin_wide(base, wide), "doc_id")
        .select(
            "doc_id",
            "reg_domain",
            F.posexplode_outer(F.split("text", "\n")).alias("pos", "line"),
        )
    )
    per_line = (
        lines.filter(F.col("line").isNotNull())
        .select("reg_domain", "line", "doc_id")
        .distinct()
        .groupBy("reg_domain", "line")
        .agg(F.count(F.lit(1)).alias("n_docs_with"))
    )
    per_domain = base.groupBy("reg_domain").agg(
        F.count(F.lit(1)).alias("n_domain_docs")
    )
    boiler = (
        per_line.join(pin_wide(per_domain, wide), "reg_domain")
        .filter(
            (F.col("n_docs_with") >= min_docs)
            & (
                F.col("n_docs_with").cast("double")
                >= F.lit(min_frac) * F.col("n_domain_docs").cast("double")
            )
        )
        .select("reg_domain", "line")
    )
    kept = lines.join(
        pin_wide(boiler, wide), ["reg_domain", "line"], "left_anti"
    )
    kept_agg = kept.groupBy("doc_id").agg(
        # NULL-text docs have one (pos NULL, line NULL) row: max(pos)
        # NULL -> clean_text NULL, n_lines 0 (count skips NULLs)
        F.when(
            F.max("pos").isNotNull(),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ),
        ).alias("clean_text"),
        F.count("line").alias("n_kept"),
    )
    # LEFT join from the doc universe: a doc whose EVERY line is
    # boilerplate has no surviving line rows at all, but must still come
    # out (with clean_text '') rather than silently vanish
    universe = lines.groupBy("doc_id").agg(F.count("line").alias("n_lines"))
    return (
        universe.join(pin_wide(kept_agg, wide), "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("n_lines") > 0,
                F.coalesce(F.col("clean_text"), F.lit("")),
            ).alias("clean_text"),
            "n_lines",
            (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def url_blocklist_filter(
    docs: DataFrame,
    blocked_domains: list[str],
    url_col: str = "url",
    id_col: str = "doc_id",
    suffixes: tuple[str, ...] = TX.PUBLIC_SUFFIXES,
) -> DataFrame:
    """Registered-domain blocklist filtering — the UT1/adult-blocklist
    pass every public web-curation recipe runs before content work
    (CCNet, RefinedWeb, FineWeb all filter by domain lists): drop a doc
    when its REGISTERED domain is on the list, so `evil.co.uk` blocks
    `www.evil.co.uk/x` and `blog.evil.co.uk/y` but never
    `notevil.co.uk` (substring matching over raw URLs gets exactly
    those two cases wrong, in both directions).

    Output: (doc_id, url_norm, reg_domain) for SURVIVORS only —
    unparseable/NULL URLs (NULL reg_domain) survive, stated contract: a
    blocklist can only block what it can attribute; route parse
    failures to a quarantine with an isNull filter if the pipeline
    wants them out.

    Plan shape at 100 TB: the blocklist is a literal `isin` folded into
    the scan filter — ROW-LOCAL, zero exchanges, no join at any list
    size that fits a literal (real UT1 categories are ~1e6 domains: past
    the literal regime, swap the isin for a broadcast LEFT ANTI join on
    reg_domain — the list is MBs, bounded by the blocklist file, never
    by the corpus).
    """
    blocked = sorted({d.lower() for d in blocked_domains})
    parts = url_parts(docs, url_col, id_col, suffixes)
    return parts.filter(
        F.col("reg_domain").isNull() | ~F.col("reg_domain").isin(blocked)
    )
