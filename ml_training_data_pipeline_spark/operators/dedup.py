"""Deduplication operators for training-data curation at 100 TB
(BASELINE.json scale extensions; beyond reference scope, first-class here).

Five families, all shuffle-bounded and engine-portable:

- exact: md5 fingerprint of the canonical token stream → groupBy
- MinHash: word-shingles → k seeded min-hashes → LSH band buckets →
  candidate pairs → exact Jaccard verification
- SimHash: tf-weighted signature → hamming pairs, either single
  high-byte bucketing (16-bit legacy) or complete multi-band bucketing
  (60-bit, bands = max_hamming+1 — the 100-TB path)
- n-gram Jaccard: shingle inverted-index self-join
- embedding near-dup: see operators/similarity.py (cosine machinery)

The deterministic 60-bit hash is ``conv(substr(md5(x),1,15),16,10)`` —
identical in DuckDB as ``('0x'||substr(md5(x),1,15))::BIGINT``, which keeps
every operator oracle-checkable (verified bit-identical cross-engine).

Scale notes: the shingle inverted index is the classic MinHash layout —
``(shingle, doc)`` shuffles once on shingle; LSH candidates shuffle on
``(band, signature)``; nothing materializes O(n²) unless the data really
is near-duplicate-dense. Hot shingles (boilerplate) would skew the
self-join at 100 TB — cap posting-list length with a document-frequency
filter like real pipelines do (``max_shingle_df``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.analysis import fingerprint, fingerprint_pair
from .materialize import materialize
from .tfidf import doc_tokens, term_counts

# MinHash-LSH: word 3-shingles, 8 min-hashes, bands of 2 rows
SHINGLE_K = 3
NUM_HASHES = 8
ROWS_PER_BAND = 2
# SimHash near-dups: at most 3 differing bits; the banded join splits a
# 60-bit signature into 4 bands (more bands than bits allowed to differ,
# so every qualifying pair agrees on a whole band)
_MAX_HAMMING = 3
_SIMHASH_BITS = 60
_SIMHASH_BANDS = 4


def md5_long(c: Column) -> Column:
    """Deterministic 60-bit hash from md5 — portable across engines
    (DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


# --- exact dedup -------------------------------------------------------------

def exact_dup_groups(docs: DataFrame, hash_keys: bool = False) -> DataFrame:
    """(fp, n_docs, keep_doc_id): canonical-fingerprint groups; the kept
    representative is the min doc_id (deterministic survivor policy).
    ``hash_keys=True`` groups on the 120-bit struct<h,l> long-pair
    fingerprint instead of the hex string — use it when fp is never
    surfaced (ep5): the groupBy shuffles 16-byte keys instead of 32-char
    strings, with a collision budget (n²/2^121) that holds at
    billions-of-docs scale (see functions.analysis.fingerprint_pair)."""
    from ..functions.analysis import fingerprint_pair

    fp_fn = fingerprint_pair if hash_keys else fingerprint
    fps = docs.where(F.col("text").isNotNull()).select(
        "doc_id", fp_fn(F.col("text")).alias("fp")
    )
    return fps.groupBy("fp").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id")
    )


# --- shingles + MinHash ------------------------------------------------------

def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle BIGINT) distinct word-``SHINGLE_K``-shingles — the set
    representation Jaccard is defined over. The shingle is hashed to a
    60-bit md5 long IN THE SCAN PROJECTION, before the distinct, so the
    distinct shuffle and every downstream equi-join/groupBy move 8-byte
    longs instead of ~20-byte raw strings (~3× shuffle-byte reduction on
    the family that dominates a 100 TB dedup pass). No consumer surfaces
    the shingle text; identical-hash collisions are deterministic and
    mirrored by the DuckDB oracle, so parity is exact. Builds ONLY the
    k-grams (a 1..k-gram build plus post-filter explodes ~k× the rows for
    the same result). The explode(array(tokens)) Generate barrier mirrors
    doc_tokens: it materializes the token array once per row so
    whole-stage codegen doesn't inline the tokenize subtree into every
    n-gram lambda."""
    from ..functions.text import ngrams, tokenize

    tok_rows = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.explode(F.array(tokenize(F.col("text")))).alias("_toks")
    )
    return (
        tok_rows.where(F.size("_toks") >= SHINGLE_K)
        .select("doc_id", F.explode(ngrams(F.col("_toks"), SHINGLE_K)).alias("_shingle_str"))
        .select("doc_id", md5_long(F.col("_shingle_str")).alias("shingle"))
        .distinct()
    )


def minhash_wide(shingles: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """(doc_id, m0..m{num_hashes-1}) — the signature as num_hashes
    AGGREGATE COLUMNS of one groupBy(doc_id), h_i(s) = md5_long(i||':'||s).
    Not a seed explode: the aggregator sees |shingles| input rows instead
    of |shingles|×num_hashes. Same md5 count either way; ~num_hashes×
    fewer rows through partial aggregation."""
    mins = [
        # shingle is the 60-bit long key; its decimal rendering seeds the
        # per-i hash (identical to BIGINT::VARCHAR on the oracle side)
        F.min(md5_long(F.concat(F.lit(f"{i}:"), F.col("shingle").cast("string")))).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    return shingles.groupBy("doc_id").agg(*mins)


def minhash_signatures(shingles: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """(doc_id, seed, min_hash) — the long form of ``minhash_wide``
    (posexplode of the already-aggregated docs×num_hashes result); the
    serving/inspection contract (d2)."""
    wide = minhash_wide(shingles, num_hashes)
    return wide.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"m{i}") for i in range(num_hashes)])).alias(
            "seed", "min_hash"
        ),
    ).select("doc_id", F.col("seed").cast("long").alias("seed"), "min_hash")


def lsh_bands_from_wide(wide: DataFrame, rows_per_band: int = ROWS_PER_BAND) -> DataFrame:
    """(doc_id, band, band_sig) straight off the wide signature row — a
    pure projection, NO second aggregation: band b's signature is the md5
    of its rows_per_band min-hashes comma-joined in seed order, exactly
    what ``lsh_bands`` computes from the long form via collect_list.
    band_sig is a 60-bit md5 LONG, not the hex string: it exists only as
    the (band, band_sig) equi-join key in d3/d4/cur3/cur10's candidate
    joins — the second-biggest shuffle of a dedup pass — so it follows
    the same key discipline as shingles/fingerprints (~3-4× fewer key
    bytes than 32-char hex; collisions deterministic and mirrored by the
    oracle's identical truncation)."""
    m_cols = [c for c in wide.columns if c.startswith("m")]
    # ceil-divide: a trailing partial band is emitted (shorter slice),
    # matching lsh_bands' floor(seed/rows_per_band) banding exactly for
    # non-divisible num_hashes — dropping it would silently shrink
    # candidate recall.
    n_bands = -(-len(m_cols) // rows_per_band)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                md5_long(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"m{i}").cast("string")
                            for i in range(
                                b * rows_per_band,
                                min((b + 1) * rows_per_band, len(m_cols)),
                            )
                        ],
                    )
                ).alias("band_sig"),
            )
            for b in range(n_bands)
        ]
    )
    return wide.select("doc_id", F.explode(bands).alias("bs")).select(
        "doc_id", F.col("bs.band").cast("int").alias("band"), F.col("bs.band_sig").alias("band_sig")
    )


def lsh_bands(minhash: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) — 60-bit md5 long over the band's ordered
    min-hashes (same key form as ``lsh_bands_from_wide``)."""
    banded = minhash.withColumn("band", F.floor(F.col("seed") / ROWS_PER_BAND).cast("int"))
    sig = md5_long(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seed", "min_hash"))),
                lambda s: s.getField("min_hash").cast("string"),
            ),
            ",",
        )
    )
    return banded.groupBy("doc_id", "band").agg(sig.alias("band_sig"))


def lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b) distinct pairs sharing any band bucket. Equi-join on
    (band, band_sig) — the shuffle key that makes LSH sub-quadratic."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band", "band_sig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    threshold: float = 0.0,
    max_shingle_df: int | None = None,
    candidates: DataFrame | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """(doc_a, doc_b, <metric>) for pairs sharing ≥1 shingle, via the
    inverted-index self-join. ``max_shingle_df`` drops boilerplate
    shingles (posting-list cap) — the skew guard at scale.

    ``metric="containment"`` scores ``inter / min(|A|, |B|)`` instead of
    Jaccard: the asymmetric signal that catches a short doc wholly
    embedded in a long one (quotes, concatenations), where Jaccard stays
    low because the union is dominated by the long side.

    ``candidates`` (doc_a, doc_b) scopes the whole computation to a
    pre-filtered pair set (LSH output): docs appearing in no candidate
    pair are semi-joined away BEFORE the inverted-index self-join, and
    non-candidate pairs are semi-joined away BELOW the intersection
    aggregation — so the O(Σ df²) pair blowup never materializes for
    pairs LSH already pruned. Per-doc sizes are still full shingle-set
    sizes (the doc filter drops whole docs, never individual shingles),
    so jaccard values are identical to the unscoped computation.
    """
    sh = shingles
    if max_shingle_df is not None:
        # drop-list anti-join, not a shingle-partitioned window: the cap
        # exists precisely because some shingles are hot, and a window
        # would funnel every posting of the hot shingle through one
        # partition. The over-cap list is tiny by construction (these ARE
        # the boilerplate outliers), so it broadcasts and the posting
        # table is filtered without any shuffle; the detection groupBy is
        # map-side partial-aggregated.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    if candidates is not None:
        cand_docs = (
            candidates.select(F.col("doc_a").alias("doc_id"))
            .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        # Materialize the candidate-scoped posting table ONCE (guide §5):
        # it feeds the per-doc sizes aggregate AND both legs of the
        # intersection self-join — three plan references that each
        # re-ran the semi-join over the full shingle table (ReuseExchange
        # only covers the identical a/b legs, not the sizes shape). The
        # scoped table is LSH-candidate-bounded, so the checkpoint is
        # small at any corpus size while the scans it replaces grow with
        # the corpus. materialize() (not cache) keeps true size stats
        # visible to AQE — see minhash_dedup's 18×-regression note.
        sh = materialize(sh.join(cand_docs, "doc_id", "left_semi"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pair_rows = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    if candidates is not None:
        # semi-join on the pair key BELOW the aggregation: only candidate
        # pairs are counted (AQE broadcasts the small candidate side).
        pair_rows = pair_rows.join(
            candidates.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_semi"
        )
    inter = pair_rows.groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    if metric == "containment":
        score = F.col("inter") / F.least(F.col("na"), F.col("nb"))
    elif metric == "jaccard":
        score = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    else:
        raise ValueError(f"unknown metric {metric!r}")
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(score, 6).alias(metric))
    )
    return out.where(F.col(metric) >= threshold) if threshold > 0 else out


def lsh_admission_rejects(
    delta_bands: DataFrame,
    corpus_bands: DataFrame,
    shingles: DataFrame,
) -> DataFrame:
    """(delta_doc) — delta-side docs verified as near-duplicates of the
    standing corpus: the ONE admission pipeline behind cur10 (batch),
    st13 (streaming foreachBatch) and cur12 (snapshot delta), factored
    so the banding config and threshold can never silently diverge
    across the three deployment shapes.

    ``delta_bands`` is (delta_doc, band, band_sig) for the arriving/
    changed side; ``corpus_bands`` is (corpus_doc, band, band_sig) for
    the standing side; ``shingles`` must cover both sides' doc_ids.
    Candidates come from the (band, band_sig) equi-join — the ONLY place
    delta meets corpus, never a delta × corpus enumeration — and are
    canonicalized (least/greatest) for ``jaccard_pairs``'s a < b order;
    the delta-side orientation is carried on the candidate row and
    recovered by joining verified pairs back, so membership — not any
    doc_id parity convention — decides which side was the delta.

    The id spaces need NOT be disjoint: a delta doc whose doc_id already
    exists on the corpus side is rejected directly (``shingles`` is
    keyed by doc_id, so a shared id IS identical content — Jaccard with
    itself is 1, trivially over any threshold). Without this branch the
    least/greatest canonicalization would collapse such a pair to
    doc_a == doc_b, which jaccard_pairs's a < b filter silently drops —
    re-ingesting a standing doc under its own id would be ADMITTED."""
    same_id = (
        delta_bands.select("delta_doc")
        .join(
            corpus_bands.select(F.col("corpus_doc").alias("delta_doc")),
            "delta_doc",
            "left_semi",
        )
        .distinct()
    )
    cand = (
        delta_bands.join(corpus_bands, ["band", "band_sig"])
        .where(F.col("delta_doc") != F.col("corpus_doc"))
        .select(
            "delta_doc",
            F.least("delta_doc", "corpus_doc").alias("doc_a"),
            F.greatest("delta_doc", "corpus_doc").alias("doc_b"),
        )
        .distinct()
    )
    # materialize ONCE (guide §5): cand feeds jaccard_pairs' candidate
    # scoping (two cand_docs union legs + the pair semi-join) AND the
    # verified-pair back-join — left lazy, every reference re-ran the
    # delta×corpus band join + distinct. The frame is LSH-bounded.
    cand = materialize(cand)
    ver = jaccard_pairs(
        shingles, threshold=0.5, candidates=cand.select("doc_a", "doc_b")
    )
    # verified pairs are tiny — AQE broadcasts them onto the candidates
    return (
        ver.join(cand, ["doc_a", "doc_b"])
        .select("delta_doc")
        .unionByName(same_id)
        .distinct()
    )


def shingle_df_audit(shingles: DataFrame) -> DataFrame:
    """(df, n_shingles, n_postings, dropped_by_cap, posting_share) — the
    document-frequency histogram of a shingle inverted index and the
    posting mass a ``max_shingle_df=20`` guard would drop (d19). Bounded
    by the distinct-df domain after the df groupBy; nothing corpus-sized
    survives the first aggregate."""
    df = shingles.groupBy("shingle").agg(F.count("*").alias("df"))
    hist = df.groupBy("df").agg(
        F.count("*").alias("n_shingles"),
        (F.col("df") * F.count("*")).cast("long").alias("n_postings"),
    )
    tot = hist.agg(F.sum("n_postings").cast("long").alias("total"))
    return hist.crossJoin(F.broadcast(tot)).select(  # singleton stats row
        "df",
        "n_shingles",
        "n_postings",
        F.when(F.col("df") > 20, 1).otherwise(0).alias("dropped_by_cap"),
        F.round(F.col("n_postings") / F.col("total").cast("double"), 6).alias(
            "posting_share"
        ),
    )


def minhash_dedup(
    docs: DataFrame,
    *,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH dedup: shingle → sign → band → candidates →
    verified Jaccard ≥ threshold. Returns (doc_a, doc_b, jaccard)."""
    # The shingle table has THREE consumers (signatures, per-doc sizes,
    # intersection join) — materialize it ONCE.
    # NOT .cache(): a cached plan hides its stats from AQE and turned the
    # downstream self-join 18× slower (132s vs 7s at sf0.1), whereas a
    # checkpointed RDD reports its true materialized size, so AQE keeps
    # planning correctly (measured: ~30% faster than recomputing the
    # tokenize→shingle lineage per consumer).
    sh = materialize(doc_shingles(docs))
    # The candidate pair list has THREE plan references downstream
    # (jaccard_pairs uses it in both legs of the cand_docs union and in
    # the pair semi-join), and each reference re-derives the whole
    # minhash→bands→self-join subtree from the shingle checkpoint —
    # d4's initial plan carried 56 Exchanges / 136 HashAggregates from
    # the copies. Materialize once: the pair list is LSH-bounded (the
    # whole point of banding), and the single build replaces three
    # executions of the banding scan at any scale.
    cands = materialize(
        lsh_candidate_pairs(lsh_bands_from_wide(minhash_wide(sh)))
    )
    # candidate-scoped verification: LSH prunes the quadratic shingle
    # self-join, not just the final result (see jaccard_pairs docstring).
    # Measured alternative (rejected): join candidate pairs to per-doc
    # collect_list shingle ARRAYS and intersect in-row — ~15% faster at
    # sf0.1 (2.9s vs 3.5s; fewer stages), but it ships |A|+|B| shingles
    # per candidate pair where the posting-list join ships only |A∩B| —
    # at 100 TB, where LSH candidate precision drops and false
    # candidates dominate, that asymmetry is the whole game, so the
    # scheduling-overhead win doesn't survive the scale-up.
    return jaccard_pairs(sh, candidates=cands).where(F.col("jaccard") >= threshold)


# --- SimHash ----------------------------------------------------------------

def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash) — tf-weighted ``bits``-wide SimHash over unigram
    terms. bit b set iff Σ_t tf(t)·(±1 by bit b of h(t)) > 0.

    The per-bit sums are ``bits`` aggregate EXPRESSIONS of one
    groupBy(doc_id) — the aggregation buffer is bits-wide, the input
    stream stays one row per (doc, term). The naive layout (explode a
    0..bits-1 sequence per doc-term row, then aggregate) pushes a bits×
    row inflation through the first shuffle boundary — 60× the doc-term
    stream at the d9 width, the kind of intermediate blow-up that owns
    the wall-clock at 100 TB. The term hash is computed inline per
    doc-term row (md5 is codegen'd JVM work; a distinct-term hash join
    would trade a cheap rehash for a whole shuffle)."""
    counts = term_counts(doc_tokens(docs))
    contrib = counts.select("doc_id", "tf", md5_long(F.col("term")).alias("h"))
    bitsums = [
        F.sum(
            F.when(F.expr(f"shiftright(h, {b}) & 1") == 1, F.col("tf")).otherwise(-F.col("tf"))
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    wide = contrib.groupBy("doc_id").agg(*bitsums)
    sig: Column = F.lit(0).cast("long")
    for b in range(bits):
        # shiftleft, not F.lit(1 << b): a python-int literal overflows
        # LongType at b=63, while the JVM shift is well-defined for the
        # full 64-bit width.
        weight = F.expr(f"shiftleft(CAST(1 AS BIGINT), {b})")
        sig = sig + F.when(F.col(f"s{b}") > 0, weight).otherwise(F.lit(0))
    return wide.select("doc_id", sig.alias("simhash"))


def simhash_banded_near_dups(sim: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming ≤ max) via multi-band bucketing — the scale
    path. The signature is split into ``_SIMHASH_BANDS`` disjoint
    bit-slices; docs are joined per (band, slice-value). Pigeonhole: a
    pair differing in at most ``_MAX_HAMMING`` ≤ bands-1 bits must agree
    exactly on ≥1 band, so with bands = max_hamming+1 this is COMPLETE
    (identical result to the all-pairs hamming filter) while each join is
    an equi-join on a ``bits/bands``-bit key — the same sub-quadratic
    shape as ``lsh_bands`` (and unlike single-high-byte bucketing, it
    cannot miss pairs that differ in the bucket bits)."""
    w = _SIMHASH_BITS // _SIMHASH_BANDS
    mask = (1 << w) - 1
    banded = sim.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(_SIMHASH_BANDS - 1))).alias("band"),
    ).withColumn("band_key", F.expr(f"shiftright(simhash, band * {w})").bitwiseAND(F.lit(mask)))
    a = banded.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"), "band", "band_key")
    b = banded.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= _MAX_HAMMING)
        .distinct()
    )


def simhash_near_dups(sim: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming ≤ max) — bucket on the signature's bits
    above the low 8 (sub-quadratic equi-join) then verify hamming on the
    full signature."""
    a = sim.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"),
                   F.shiftright("simhash", 8).alias("bucket"))
    b = sim.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"),
                   F.shiftright("simhash", 8).alias("bucket"))
    return (
        a.join(b, "bucket")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= _MAX_HAMMING)
    )


# --- near-dup graph closure -------------------------------------------------

def connected_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(doc_id, component_id) — connected components of the near-dup pair
    graph: the closure step that turns pairwise near-dups into dedup
    GROUPS (pair (a,b) + pair (b,c) must collapse to one survivor even
    when (a,c) was never emitted). component_id = smallest doc_id in the
    component, which doubles as the canonical-survivor key.

    Smallest-label propagation WITH pointer doubling: each round every
    node takes the min label over itself and its neighbors, then
    shortcuts ``label := label(label)`` — the path-halving step that
    turns the naive O(diameter)-round propagation into O(log diameter)
    (a 1000-node chain converges in ~11 rounds instead of 999; near-dup
    components are usually dense and tiny, but one boilerplate-chained
    component must not own the job). Labels are always node ids of the
    same component (min over a set of member ids), so the shortcut join
    is a self-join on the label table — one extra shuffle per round for
    exponentially fewer rounds. Convergence is checked by the exact
    label-sum comparison described below; exhausting ``max_iter`` without
    reaching the fixpoint raises rather than silently returning split
    components (multiple survivors per true dup group, with no error
    signal).
    ``materialize`` per round truncates the iterative lineage (the
    driver-loop analogue of the reference's in-memory igraph step).

    Two per-round shuffles removed (r16, guide §2.4): (1) the symmetric
    edge table is hash-partitioned on ``node`` ONCE before
    materialization, so every round's edge⋈labels join reuses that
    partitioning instead of re-exchanging the (static) edge table
    (localCheckpoint preserves outputPartitioning; the parquet
    materialize backend loses it and just pays the old exchange);
    (2) convergence is checked by comparing Σ labels across rounds —
    under min-label propagation plus pointer doubling every node's label
    is monotonically non-increasing (label(x) ≤ x always, each update
    takes a min), so the sum is unchanged iff NO label moved — which
    replaces the old labels⋈new_labels shuffle join + count with one
    combinable aggregate over the just-checkpointed round output. The
    sum accumulates in decimal(38,0): exact for any label domain
    (n × 2⁶³ ≪ 10³⁸), so equality is never a float coincidence."""
    sym = materialize(
        edges.select(F.col(a_col).alias("node"), F.col(b_col).alias("nbr"))
        .unionByName(
            edges.select(F.col(b_col).alias("node"), F.col(a_col).alias("nbr"))
        )
        .distinct()
        .repartition("node")
    )
    labels = materialize(
        sym.select("node").distinct().select("node", F.col("node").alias("label"))
    )

    def label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    prev_sum = label_sum(labels)
    converged = False
    for _ in range(max_iter):
        nbr_labels = (
            sym.join(labels, "node")
            .select(F.col("nbr").alias("node"), "label")
        )
        min_labels = (
            labels.unionByName(nbr_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer doubling: label := label(label). Every label value is a
        # member node id, and min_labels keys every node, so the inner
        # self-join is total.
        new_labels = materialize(
            min_labels.join(
                min_labels.select(F.col("node").alias("label"), F.col("label").alias("_ll")),
                "label",
            )
            .select("node", F.col("_ll").alias("label"))
        )
        new_sum = label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds — component diameter exceeds the doubling horizon "
            f"(2^{max_iter}); raise max_iter"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component_id"))


# --- span scrub (the d22-grain transform: d24/ep14/st17 share this) ----------

# the ONE span-grain window width: every Spark-side filter/explode and
# (via oracle_fragments.SPAN_WIDTH) every oracle CTE derive from it, so
# changing the grain cannot silently diverge across d22/d24/ep14/d26/
# d27/st17 (round-15 review finding: d27/st17 had re-inlined `8`)
SPAN_WIDTH = 8


def span_window_stream(t8: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *keep, pos, win) — every stride-1 ``SPAN_WIDTH``-token window
    of each doc as a 60-bit md5 long (string window keys never shuffle),
    as a PURE projection (no materialization): the single-consumer form
    st17 uses per micro-batch and for the corpus window inventory.
    Expects (doc_id, toks) pre-filtered to ``size(toks) >= SPAN_WIDTH``.
    ``keep`` names extra t8 columns to carry through the explode — a
    per-doc attribute (e.g. ``source``) rides the projection for free,
    where joining it back onto the stream afterwards would shuffle the
    whole O(corpus tokens) stream on doc_id. One position stream — the
    d22 layout."""
    return t8.select(
        "doc_id",
        *keep,
        F.explode(
            F.expr(
                f"transform(sequence(0, size(toks) - {SPAN_WIDTH}),"
                " i -> struct(i AS pos,"
                f" CAST(conv(substr(md5(concat_ws(' ', slice(toks, i+1, {SPAN_WIDTH}))),"
                " 1, 15), 16, 10) AS LONG) AS win))"
            )
        ).alias("w"),
    ).select(
        "doc_id", *keep, F.col("w.pos").alias("pos"), F.col("w.win").alias("win")
    )


def span_windows(t8: DataFrame) -> DataFrame:
    """``span_window_stream`` materialized once — the batch-scrub form:
    d24/ep14 read the position stream twice (cross-doc support + removal
    probe)."""
    return materialize(span_window_stream(t8))


def duplicated_windows(p: DataFrame) -> DataFrame:
    """(win, keep_doc) — windows appearing in more than one doc, with the
    keep-first owner (min doc_id). One combinable groupBy over the
    distinct (doc, win) stream; map-side partials keep the shuffle at one
    row per (partition, win)."""
    return (
        p.select("doc_id", "win")
        .distinct()
        .groupBy("win")
        .agg(F.count("*").alias("nd"), F.min("doc_id").alias("keep_doc"))
        .where(F.col("nd") > 1)
        .select("win", "keep_doc")
    )


def span_removed_positions(p: DataFrame, dw: DataFrame) -> DataFrame:
    """(doc_id, tok) — DISTINCT token positions covered by some duplicated
    window whose keeper is another doc (Lee-et-al span removal,
    keep-first). The explode is bounded to duplicated NON-KEEPER windows
    only, so the cost is proportional to duplicated-token coverage,
    bounded at ``SPAN_WIDTH`` × corpus tokens by construction."""
    return (
        p.join(dw, "win")
        .where(F.col("doc_id") != F.col("keep_doc"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + SPAN_WIDTH - 1)).alias("tok"),
        )
        .distinct()
    )


def span_scrub_removals(t8: DataFrame) -> DataFrame:
    """windows → duplicated-window inventory → removed positions, composed
    (the shared d24/ep14 pipeline — factored per r14 ADVICE so a scrub
    semantics fix lands once). Returns (doc_id, tok) distinct."""
    p = span_windows(t8)
    return span_removed_positions(p, duplicated_windows(p))


# --- exact-then-near cascade (d23/d25/ep13) -----------------------------------


def representative_near_pairs(docs: DataFrame, grp: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) — verified MinHash-LSH near-dup pairs
    (jaccard >= 0.5) among the exact-group representatives
    ``grp(fp, rep)`` of ``docs(doc_id, text)``: exact clusters collapse to
    one node before any candidate pair is enumerated, which keeps pair
    enumeration linear in the verbatim-duplicate mass."""
    reps = docs.join(
        grp.select(F.col("rep").alias("doc_id")).distinct(), "doc_id"
    ).select("doc_id", "text")
    return minhash_dedup(reps, threshold=0.5)


def exact_then_near(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The exact-first dedup cascade over ``docs(doc_id, source, text)``
    (text non-null). Stage 1 groups on the 120-bit long-pair fingerprint
    of the canonical token stream (16-byte shuffle keys, collision budget
    n²/2^121) and keeps min(doc_id) per group; stage 2 is
    ``representative_near_pairs``. Returns ``(cls, near)``:
    cls(doc_id, source, rep) for every doc, and near(near_rep), the
    representatives a verified pair links to a SMALLER representative."""
    fps = materialize(docs.select(
        "doc_id", "source", fingerprint_pair(F.col("text")).alias("fp")
    ))  # 2 consumers: group build + per-doc classification
    grp = fps.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    cls = fps.join(grp, "fp").select("doc_id", "source", "rep")
    near = representative_near_pairs(docs, grp).select(F.col("doc_b").alias("near_rep"))
    return cls, near.distinct()


def cascade_ledger(marked: DataFrame, near_col: str, *extra: Column) -> DataFrame:
    """Per-source drop ledger of a two-stage cascade: doc counts and rates
    for exact drops (doc_id != rep), near drops (a representative whose
    ``near_col`` is non-null) and survivors. ``extra`` aggregates are
    appended after the rates."""
    is_rep = F.col("doc_id") == F.col("rep")
    exact = F.when(F.col("doc_id") != F.col("rep"), 1).otherwise(0)
    near = F.when(is_rep & F.col(near_col).isNotNull(), 1).otherwise(0)
    survivor = F.when(is_rep & F.col(near_col).isNull(), 1).otherwise(0)
    n = F.count("*").cast("double")
    return marked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(exact).cast("long").alias("n_exact_dropped"),
        F.sum(near).cast("long").alias("n_near_dropped"),
        F.sum(survivor).cast("long").alias("n_survivors"),
        F.round(F.sum(exact) / n, 6).alias("exact_drop_rate"),
        F.round(F.sum(near) / n, 6).alias("near_drop_rate"),
        F.round(F.sum(survivor) / n, 6).alias("survival_rate"),
        *extra,
    )


def cross_source_exposure(t8: DataFrame) -> DataFrame:
    """(doc_id, source, tok) distinct — every token position covered by a
    ``SPAN_WIDTH`` window that appears in two or more sources. ``t8``
    is (doc_id, source, toks) pre-filtered to ``size(toks) >= SPAN_WIDTH``.
    The position stream carries ``source`` through the projection and is
    materialized once for its two consumers (the multi-source-window
    inventory and the coverage probe); the covered-position explode is
    bounded to cross-source duplicated coverage."""
    p = materialize(span_window_stream(t8, keep=("source",)))
    xw = (
        p.groupBy("win")
        .agg(F.count_distinct("source").alias("cs"))
        .where(F.col("cs") >= 2)
        .select("win")
    )
    return (
        p.join(xw, "win")
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (SPAN_WIDTH - 1))
            ).alias("tok"),
        )
        .distinct()
    )
