"""Shared DuckDB SQL fragments: the one statement of every oracle
contract that more than one query checks against.

Each fragment restates an engine contract exactly, so a fix lands in
every oracle that uses it:

- text: the tokenizer, unigram/n-gram streams, the TF-IDF formula, the
  stopword list and the x2/cur1 quality formula (mirroring
  ``functions/text.py``: lower → strip non-[a-z0-9 space] → collapse ws
  → split(' ') → drop ''; weight = tf * ln(N / df), round 6);
- clusters: the per-cluster top-terms ranking and the probabilistic
  coherence pairs (``operators/tfidf.cluster_term_scores``,
  ``operators/coherence.prob_coherence``);
- dedup: the MinHash family (shingles → signatures → bands →
  candidates → verified Jaccard), the exact-then-near cascade, the
  near-dup closure, the span scrub and the cross-source exposure
  (``operators/dedup``);
- similarity: the rounded cosine and the exact top-k ground truth
  (``operators/similarity``);
- budgets: mix9's integer-exact water-fill (``operators/waterfill``);
- Lloyd k-means and BPE training chains.

Fragments return CTE text without the ``WITH`` keyword, to be joined
with commas; the docstring of each names the CTEs it needs upstream.
"""

from __future__ import annotations

from ..functions.text import ALL_STOPWORDS

# token-array expression over a text column (DuckDB)
# NB: RE2's \s is [\t\n\f\r ] while Java's \s adds \x0B (vertical tab),
# so every oracle whitespace class spells \s\x0b to match the Spark side
# exactly (pinned by tests/test_properties.py tokenizer-contract test).
TOKS_EXPR = (
    r"list_filter(string_split(trim(regexp_replace(regexp_replace(lower({col}),"
    r" '[^a-z0-9\s\x0b]', '', 'g'), '[\s\x0b]+', ' ', 'g')), ' '), x -> x <> '')"
)


def toks_cte(table: str = "documents") -> str:
    """CTE `toks(doc_id, toks)` — canonical token arrays."""
    expr = TOKS_EXPR.format(col="text")
    return f"""
    toks AS (
      SELECT doc_id AS doc_id, {expr} AS toks
      FROM {table}
      WHERE text IS NOT NULL
    )"""


def unigram_cte() -> str:
    """CTE `tok(doc_id, term)` — exploded unigrams (requires toks CTE)."""
    return """
    tok AS (
      SELECT doc_id, unnest(toks) AS term FROM toks WHERE len(toks) > 0
    )"""


def ngram_cte() -> str:
    """CTE `tok(doc_id, term)` — 1..3-grams via list comprehension
    (requires toks CTE). Mirrors functions/text.py ngrams_up_to."""
    parts = ["toks"]
    for n in range(2, 4):
        joined = "||' '||".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(n))
        parts.append(f"[{joined} for i in range(1, len(toks) - {n - 2})]")
    concat = " || ".join(parts)
    return f"""
    tok AS (
      SELECT doc_id, unnest({concat}) AS term
      FROM toks WHERE len(toks) > 0
    )"""


def tfidf_cte() -> str:
    """CTEs `counts`, `dft`, `n`, `tfidf(doc_id, term, tf, weight)` —
    requires a `tok(doc_id, term)` CTE upstream."""
    return """
    counts AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    dft AS (SELECT term, count(*) AS df FROM counts GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM counts),
    tfidf AS (
      SELECT c.doc_id, c.term, c.tf,
             round(c.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS weight
      FROM counts c JOIN dft d USING (term) CROSS JOIN n
    )"""


# portable 60-bit md5 hash (see operators/dedup.md5_long — Spark side is
# conv(substr(md5(x),1,15),16,10), verified bit-identical cross-engine)
H60 = "('0x'||substr(md5({x}),1,15))::BIGINT"

# the one span-grain window width (operators/dedup.SPAN_WIDTH re-exported
# for oracle f-strings): every shared-fragment consumer's inline clause
# must interpolate THIS, never a literal 8, so the grain cannot diverge
from ..operators.dedup import SPAN_WIDTH  # noqa: E402


def span_scrub_ctes() -> str:
    """CTEs ``t8, p, dw, rem, rc`` — the span-scrub window→removal
    pipeline shared by d24/ep14/st17 (requires the ``toks`` CTE
    upstream). Mirrors operators/dedup.span_scrub_removals exactly:
    stride-1 ``SPAN_WIDTH``-token windows as 60-bit md5 longs, duplicated
    windows keep their min-doc owner, non-keeper occurrences mark every
    covered token position for removal. Factored once (r14 ADVICE) so a
    scrub-semantics fix cannot diverge between the queries."""
    w = SPAN_WIDTH
    win = H60.format(x=f"array_to_string(toks[(pos+1):(pos+{w})], ' ')")
    return f"""
    t8 AS (SELECT doc_id, toks, len(toks) AS L FROM toks WHERE len(toks) >= {w}),
    p AS (
      SELECT doc_id, pos, {win} AS win
      FROM (SELECT doc_id, toks, unnest(range(0, L - {w - 1})) AS pos FROM t8)
    ),
    dw AS (
      SELECT win, min(doc_id) AS keep_doc
      FROM (SELECT DISTINCT doc_id, win FROM p)
      GROUP BY win HAVING count(*) > 1
    ),
    rem AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT p.doc_id, unnest(range(p.pos, p.pos + {w})) AS tok
        FROM p JOIN dw USING (win)
        WHERE p.doc_id <> dw.keep_doc
      )
    ),
    rc AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id)"""


def materialized_ctes(sql: str, *cte_names: str) -> str:
    """Rewrite ``name AS (`` → ``name AS MATERIALIZED (`` for the given
    CTE names (word-boundary match, all occurrences).

    DuckDB 1.0 INLINES every non-recursive CTE, so a fragment referenced
    by several consumers is re-evaluated per consumer — and when the
    consumers are UNION ALL branches they all run concurrently. d20's
    oracle at sf1 is the measured pathology: the 113M-row Jaccard
    intersection aggregate (cheap alone: 11 s, no spill at a 40 GB
    limit) is inlined into nt + three stats branches, and the combined
    query spilled >80 GB of temp and filled the disk. With the shared
    CTEs materialized the same query returns in 160 s with ZERO temp
    spill. Purely physical — results are unchanged (same rows either
    way wherever both forms finish).

    Callers pass a SUPERSET of names (a name absent from this oracle is
    a no-op), so a silent regex miss on a PRESENT definition would be
    indistinguishable from legitimate absence — the match is therefore
    case- and whitespace-tolerant (``name  as\\n(`` still rewrites), and
    tests/test_round15.py pins that no heavy fragment is left inlined
    in any guarded oracle."""
    import re as _re

    for name in cte_names:
        sql = _re.sub(
            rf"(?<![A-Za-z0-9_]){_re.escape(name)}\s+AS\s*\(",
            f"{name} AS MATERIALIZED (",
            sql,
            flags=_re.IGNORECASE,
        )
    return sql


def stopword_list_sql() -> str:
    """The engine's stopword list as a SQL array literal."""
    inner = ", ".join(f"'{w}'" for w in ALL_STOPWORDS)
    return f"[{inner}]"


def quality_cte() -> str:
    """CTE `qual(doc_id, quality_score)` — the x2/cur1 composite quality
    formula (functions/analysis.quality_score), restated once so every
    oracle that bands on quality shares the exact expression. Requires
    the `toks` CTE upstream."""
    return f"""
    qstats AS (
      SELECT t.doc_id,
             length(d.text) AS n_chars,
             length(regexp_replace(d.text, '[^\\s\\x0ba-zA-Z0-9]', '', 'g')) AS n_alnum_chars,
             len(t.toks) AS n_toks,
             len(list_filter(t.toks, x -> list_contains({stopword_list_sql()}, x))) AS n_stop,
             list_sum(list_transform(t.toks, x -> length(x))) AS tok_chars
      FROM toks t JOIN documents d USING (doc_id)
    ),
    qual AS (
      SELECT doc_id,
        round(
          least(CASE WHEN n_toks > 0 THEN CAST(n_stop AS DOUBLE) / n_toks ELSE 0.0 END * 4, 1.0) * 0.4
          + (1.0 - least(CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alnum_chars AS DOUBLE) / n_chars ELSE 0.0 END * 5, 1.0)) * 0.3
          + (CASE WHEN n_toks > 0 AND CAST(tok_chars AS DOUBLE) / n_toks BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3,
        6) AS quality_score
      FROM qstats
    )"""


def lloyd_dist(a: str, b: str) -> str:
    """Squared-L2 between two DOUBLE[] expressions as an explicit
    LEFT-TO-RIGHT fold — the same IEEE op sequence Spark's
    zip_with+aggregate runs, so on bit-identical inputs the distance is
    bit-identical (the m10/n23 determinism recipe)."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        " s -> (s[1] - s[2]) * (s[1] - s[2])), (x, y) -> x + y)"
    )


def lloyd_input_ctes(quant: int) -> str:
    """The shared qe/qd input pair (no WITH keyword) — floor-quantized
    embeddings + their exact double casts. Emitted ONCE even when several
    Lloyd chains (m11's k-sweep) share one corpus."""
    return f"""qe AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {quant}) AS BIGINT)) AS q
  FROM embeddings
),
qd AS (SELECT vec_id, q, list_transform(q, x -> CAST(x AS DOUBLE)) AS d FROM qe)"""


def lloyd_ctes(
    dims: int, k: int, iters: int, quant: int, prefix: str = "", emit_input: bool = True
) -> str:
    """The deterministic-Lloyd CTE chain (no WITH keyword): qe/qd
    (floor-quantized embeddings), {prefix}c0..c{iters-1} (centers: exact
    integer means cast to double; emptied clusters keep their previous
    center), {prefix}a1..a{iters} (assignments: argmin of lloyd_dist,
    ties to the lower cluster_id). Mirrors
    operators/cluster.lloyd_deterministic exactly — m10 selects from
    a{iters}; n23 extends the chain with an IVF probe; m11 emits THREE
    prefixed chains (k sweep) over one shared qe/qd
    (emit_input=False)."""
    mean_list = ", ".join(
        f"CAST(sum(q[{i + 1}]) AS DOUBLE) / count(*)" for i in range(dims)
    )
    dist = lloyd_dist("qd.d", "c.c")
    p = prefix
    ctes = [lloyd_input_ctes(quant)] if emit_input else []
    ctes.append(
        f"""{p}c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster_id, d AS c
  FROM (SELECT vec_id, d FROM qd ORDER BY vec_id LIMIT {k})
)"""
    )
    for t in range(1, iters + 1):
        ctes.append(
            f"""{p}a{t} AS (
  SELECT vec_id, cluster_id FROM (
    SELECT qd.vec_id, c.cluster_id,
           row_number() OVER (PARTITION BY qd.vec_id
                              ORDER BY {dist}, c.cluster_id) AS rn
    FROM qd CROSS JOIN {p}c{t - 1} c
  ) WHERE rn = 1
)"""
        )
        if t < iters:
            ctes.append(
                f"""{p}m{t} AS (
  SELECT cluster_id, [{mean_list}] AS c
  FROM qd JOIN {p}a{t} USING (vec_id) GROUP BY cluster_id
),
{p}c{t} AS (
  SELECT p.cluster_id, COALESCE(m.c, p.c) AS c
  FROM {p}c{t - 1} p LEFT JOIN {p}m{t} m USING (cluster_id)
)"""
            )
    return ",\n".join(ctes)


def bpe_merge_ctes(n_merges: int, with_final_state: bool = False) -> tuple[str, str]:
    """(ctes, merge_table_select) — unrolled deterministic BPE trainer
    (requires the toks AND the canonical `tok` unigram CTE upstream —
    compose as `WITH {toks_cte()}, {unigram_cte()}, {ctes}` so the BPE
    oracles track the one shared tokenizer contract). ``with_final_state``
    additionally emits st{n_merges}, the segmentation AFTER the last
    merge, for serve-path oracles (v11/v13). A step whose pair pool is
    EMPTY (corpus dried up before n_merges) leaves b{t} with zero rows:
    the state CTE LEFT-JOINs it, the NULL l/r make every CASE take the
    no-merge branch, and the segmentation carries forward unchanged —
    mirroring train_bpe's early break (the merge-table select likewise
    contributes zero rows for that step). st0 is the
    distinct-term table (term, corpus tf, symbols joined by chr(31) — the
    unit separator, unreachable from the [a-z0-9]-only tokenizer), each
    step counts adjacent pairs weighted by tf, picks the winner
    (freq DESC, l, r — operators/bpe.train_bpe's exact tie-break), and
    re-segments via a string-encoded left-to-right greedy fold.

    The fold dodges a DuckDB list_reduce defect: a LIST inside a STRUCT
    accumulator silently loses elements (['a','a','a','b'] with rule
    (a,a) folded to res=['a'], not ['aa','a']), so the accumulator is a
    separator-joined STRING — "last symbol == L" is an exact
    ends_with(chr(31)||L) check (separator-bounded, so a multi-char
    symbol merely ENDING in L can't fire), and a merge appends R with no
    separator, which IS tail replacement in the joined form. Greedy
    non-overlap matches the Spark fold: the merged tail no longer equals
    L, so an overlapping second match can't fire."""
    sep = "chr(31)"
    ctes = [
        """st0 AS (
  SELECT term, count(*) AS tf,
         array_to_string(list_transform(range(1, len(term) + 1), i -> term[i]), chr(31)) AS symstr
  FROM tok GROUP BY term
)"""
    ]
    for t in range(n_merges):
        ctes.append(
            f"""p{t} AS (
  SELECT pr.l AS l, pr.r AS r, sum(tf) AS freq FROM (
    SELECT tf, unnest(list_transform(range(1, len(parts)),
                                     i -> {{l: parts[i], r: parts[i + 1]}})) AS pr
    FROM (SELECT tf, string_split(symstr, {sep}) AS parts FROM st{t})
  ) GROUP BY 1, 2
),
b{t} AS (SELECT l, r, freq FROM p{t} ORDER BY freq DESC, l, r LIMIT 1)"""
        )
        if t < n_merges - 1 or with_final_state:
            ctes.append(
                f"""st{t + 1} AS (
  SELECT term, tf,
         list_reduce(
           string_split(symstr, {sep}),
           (acc, e) -> CASE WHEN (acc = b.l OR ends_with(acc, {sep} || b.l)) AND e = b.r
                            THEN acc || e
                            ELSE acc || {sep} || e END
         ) AS symstr
  FROM st{t} LEFT JOIN b{t} b ON TRUE
)"""
            )
    selects = " UNION ALL ".join(
        f'SELECT CAST({t} AS BIGINT) AS step, l AS "left", r AS "right",'
        f" l || r AS merged, CAST(freq AS BIGINT) AS pair_freq FROM b{t}"
        for t in range(n_merges)
    )
    return ",\n".join(ctes), selects


# --- clusters -------------------------------------------------------------------
# the per-cluster term ranking (score DESC, term ASC) every top-terms
# oracle filters; mirrors operators/tfidf.cluster_term_scores
RANKED_TERMS = """
        SELECT cluster_id, term, score,
               row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, term ASC) AS rank
        FROM scored"""


def cluster_scores_ctes() -> str:
    """CTEs ``toks … tfidf, assigned, scored(cluster_id, term, score)`` —
    the unigram TF-IDF summed per (lang cluster, term) over exact 1e-6
    integer units, so the sum is order-independent on both engines."""
    return f"""{toks_cte()}, {unigram_cte()}, {tfidf_cte()},
    assigned AS (
      SELECT t.doc_id, t.term, t.weight, d.lang AS cluster_id
      FROM tfidf t JOIN documents d ON t.doc_id = d.doc_id
    ),
    scored AS (
      SELECT cluster_id, term, round(sum(CAST(round(weight * 1000000) AS BIGINT))
                   / 1000000.0, 6) AS score
      FROM assigned GROUP BY cluster_id, term
    )"""


def cluster_topterms_ctes() -> str:
    """``cluster_scores_ctes`` plus ``topterms(cluster_id, term, rank)``,
    the 5 best terms per cluster — the topic a cluster's coherence and
    label are computed from."""
    return f"""{cluster_scores_ctes()},
    topterms AS (
      SELECT cluster_id, term, rank FROM ({RANKED_TERMS}
      ) WHERE rank <= 5
    )"""


def coherence_ctes() -> str:
    """CTEs ``bin_dfm … scored_pairs(cluster_id, score)`` — the
    probabilistic coherence of every ordered top-term pair
    (02_build_models.R:457-471: d_ij/d_i − d_j/N over the binary DFM).
    Requires ``tok`` and ``topterms`` upstream."""
    return """
    bin_dfm AS (SELECT DISTINCT doc_id, term FROM tok),
    ncorp AS (SELECT count(DISTINCT doc_id) AS n_corp FROM tok),
    needed AS (SELECT DISTINCT term FROM topterms),
    bsub AS (SELECT b.doc_id, b.term FROM bin_dfm b JOIN needed USING (term)),
    dfc AS (SELECT term, count(*) AS df FROM bsub GROUP BY term),
    co AS (
      SELECT x.term AS ta, y.term AS tb, count(*) AS d_ij
      FROM bsub x JOIN bsub y ON x.doc_id = y.doc_id AND x.term < y.term
      GROUP BY x.term, y.term
    ),
    pairs AS (
      SELECT a.cluster_id, a.term AS wi, b.term AS wj
      FROM topterms a JOIN topterms b
        ON a.cluster_id = b.cluster_id AND a.rank < b.rank
    ),
    scored_pairs AS (
      SELECT p.cluster_id,
             coalesce(c.d_ij, 0) * 1.0 / di.df - dj.df * 1.0 / ncorp.n_corp AS score
      FROM pairs p
      LEFT JOIN co c ON least(p.wi, p.wj) = c.ta AND greatest(p.wi, p.wj) = c.tb
      JOIN dfc di ON p.wi = di.term
      JOIN dfc dj ON p.wj = dj.term
      CROSS JOIN ncorp
    )"""


# --- dedup: the MinHash family --------------------------------------------------
# Mirrors operators/dedup.doc_shingles → minhash_wide → lsh_bands_from_wide
# → lsh_candidate_pairs → jaccard_pairs: word-3-shingles keyed by the
# 60-bit md5 long (string keys never shuffle), 8 seeds, 4 bands of 2.

# exact-group representatives' tokens: the shingle source of the
# exact-then-near cascades (requires ``toks`` and ``grp(fp, rep)``)
REP_TOKS = "toks t JOIN grp g ON g.rep = t.doc_id"


def shingles_ctes(src: str = "toks") -> str:
    """CTE ``sh(doc_id, shingle)`` — distinct word-3-shingles of every
    ``src`` row (a relation exposing ``doc_id`` and ``toks``)."""
    return f"""
    sh AS (
      SELECT DISTINCT doc_id, {H60.format(x="s.shingle")} AS shingle
      FROM (
        SELECT doc_id,
               unnest([toks[i]||' '||toks[i+1]||' '||toks[i+2] for i in range(1, len(toks) - 1)]) AS shingle
        FROM {src} WHERE len(toks) >= 3
      ) s
    )"""


def minhash_ctes(src: str = "toks") -> str:
    """``shingles_ctes`` plus ``mh(doc_id, seed, min_hash)``."""
    return f"""{shingles_ctes(src)},
    mh AS (
      SELECT doc_id, seed,
             min({H60.format(x="seed::VARCHAR || ':' || shingle::VARCHAR")}) AS min_hash
      FROM sh CROSS JOIN (SELECT unnest(range(0, 8)) AS seed)
      GROUP BY doc_id, seed
    )"""


def bands_ctes(src: str = "toks") -> str:
    """``minhash_ctes`` plus ``bands(doc_id, band, band_sig)``."""
    return f"""{minhash_ctes(src)},
    bands AS (
      SELECT doc_id, CAST(floor(seed / 2.0) AS INT) AS band,
             {H60.format(x="string_agg(min_hash::VARCHAR, ',' ORDER BY seed)")} AS band_sig
      FROM mh GROUP BY doc_id, CAST(floor(seed / 2.0) AS INT)
    )"""


def candidates_ctes(src: str = "toks") -> str:
    """``bands_ctes`` plus ``cands(doc_a, doc_b)``, the banded candidate
    pairs (doc_a < doc_b)."""
    return f"""{bands_ctes(src)},
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.doc_id < b.doc_id
    )"""


# CTEs sizes, inter, jac(doc_a, doc_b, jaccard) — exact shingle Jaccard
# of every pair sharing a shingle (requires ``sh``)
JACCARD_CTES = """
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    jac AS (
      SELECT i.doc_a, i.doc_b,
             round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) AS jaccard
      FROM inter i
      JOIN sizes sa ON i.doc_a = sa.doc_id
      JOIN sizes sb ON i.doc_b = sb.doc_id
    )"""

# CTE pairs(doc_a, doc_b) — verified near-dup pairs: LSH candidates with
# Jaccard >= 0.5 (operators/dedup.minhash_dedup; requires cands, jac)
NEAR_PAIRS_CTE = """
    pairs AS (
      SELECT j.doc_a, j.doc_b
      FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
      WHERE j.jaccard >= 0.5
    )"""


def closure_ctes(a: str = "doc_a", b: str = "doc_b") -> str:
    """CTEs ``edges, reach(node, label)`` — the transitive closure of the
    ``pairs(a, b)`` graph as a recursive CTE (needs ``WITH RECURSIVE``);
    ``min(label)`` per node is operators/dedup.connected_components'
    smallest-label fixpoint."""
    return f"""
    edges AS (
      SELECT {a} AS node, {b} AS nbr FROM pairs
      UNION SELECT {b}, {a} FROM pairs
    ),
    reach(node, label) AS (
      SELECT node, node FROM (SELECT DISTINCT node FROM edges)
      UNION
      SELECT e.nbr, r.label FROM reach r JOIN edges e ON e.node = r.node
    )"""


# CTE fps(doc_id, source, fp) — the exact fingerprint of every doc's
# canonical token stream (requires toks)
FPS_CTE = """
    fps AS (
      SELECT t.doc_id, d.source,
             md5(coalesce(array_to_string(t.toks, ' '), '')) AS fp
      FROM toks t JOIN documents d USING (doc_id)
    )"""


def cascade_ctes() -> str:
    """CTEs ``fps, grp(fp, rep), sh … jac, near(rep)`` — the exact-then-near
    dedup cascade (operators/dedup.exact_then_near): exact groups on the
    canonical token stream keep min(doc_id), then MinHash-LSH over the
    representatives only; ``near`` holds every representative a verified
    pair links to a smaller one. Requires ``toks`` upstream."""
    return f"""{FPS_CTE},
    grp AS (SELECT fp, min(doc_id) AS rep FROM fps GROUP BY fp),
    {candidates_ctes(REP_TOKS)},
    {JACCARD_CTES},
    near AS (
      SELECT DISTINCT j.doc_b AS rep
      FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
      WHERE j.jaccard >= 0.5
    )"""


def cascade_ledger_sql(dropped: str) -> str:
    """The per-source SELECT list of a cascade's drop ledger over
    ``cls c(doc_id, source, rep)`` (operators/dedup.cascade_ledger):
    ``dropped`` is non-null on representatives the near stage dropped."""
    exact = "CASE WHEN c.doc_id <> c.rep THEN 1 ELSE 0 END"
    near = f"CASE WHEN c.doc_id = c.rep AND {dropped} IS NOT NULL THEN 1 ELSE 0 END"
    surv = f"CASE WHEN c.doc_id = c.rep AND {dropped} IS NULL THEN 1 ELSE 0 END"
    return f"""c.source,
           count(*) AS n_docs,
           CAST(sum({exact}) AS BIGINT) AS n_exact_dropped,
           CAST(sum({near}) AS BIGINT) AS n_near_dropped,
           CAST(sum({surv}) AS BIGINT) AS n_survivors,
           round(sum({exact}) / CAST(count(*) AS DOUBLE), 6) AS exact_drop_rate,
           round(sum({near}) / CAST(count(*) AS DOUBLE), 6) AS near_drop_rate,
           round(sum({surv}) / CAST(count(*) AS DOUBLE), 6) AS survival_rate"""


def exposure_ctes() -> str:
    """CTEs ``ps, xw, exp(doc_id, source, tok)`` — every token position a
    window shared by two or more sources covers (operators/dedup.
    cross_source_exposure). Requires ``span_scrub_ctes`` upstream."""
    return f"""
    ps AS (
      SELECT p.doc_id, d.source, p.pos, p.win
      FROM p JOIN documents d USING (doc_id)
    ),
    xw AS (
      SELECT win FROM (
        SELECT win, count(DISTINCT source) AS cs FROM ps GROUP BY win
      ) WHERE cs >= 2
    ),
    exp AS (
      SELECT DISTINCT doc_id, source, tok FROM (
        SELECT ps.doc_id, ps.source, unnest(range(ps.pos, ps.pos + {SPAN_WIDTH})) AS tok
        FROM ps JOIN xw USING (win)
      )
    )"""


# --- budgets --------------------------------------------------------------------
# CTEs tot, ranked, marked, lvl — mix9's integer-exact water-fill
# (operators/waterfill.waterfill): budget B = ⌊Σ n_tokens / 2⌋ split as
# evenly as the 4-epoch caps allow (requires per_src(source, …,
# n_tokens, cap_tokens); read by waterfill_select)
WATERFILL_CTES = """
    tot AS (
      SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS b, count(*) AS n FROM per_src
    ),
    ranked AS (
      SELECT p.*, t.b, t.n,
             row_number() OVER (ORDER BY p.cap_tokens, p.source) AS i,
             CAST(sum(p.cap_tokens) OVER (ORDER BY p.cap_tokens, p.source
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix
      FROM per_src p CROSS JOIN tot t
    ),
    marked AS (
      SELECT r.*,
             (r.cap_tokens * (r.n - r.i + 1) <= r.b - (r.prefix - r.cap_tokens))
               AS is_capped
      FROM ranked r
    ),
    lvl AS (
      SELECT CAST(coalesce(sum(CASE WHEN is_capped THEN cap_tokens END), 0) AS BIGINT)
               AS p_k,
             CAST(sum(CASE WHEN is_capped THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM marked
    )"""


def capped_mixture_ctes(epochs: int) -> str:
    """CTEs ``tot, w, z`` — the cap-weight mixture (operators/waterfill.
    capped_mixture) over ``per_src(source, …, n_tokens)``: w carries every
    per_src column, n, n_src and cap = least(n, epochs·n_src·n_tokens);
    z holds zc = Σcap. mix7 allows 1 epoch, ep9/ep10 allow 4."""
    return f"""
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n, count(*) AS n_src FROM per_src),
    w AS (
      SELECT p.*, t.n, t.n_src, least(t.n, {epochs} * t.n_src * p.n_tokens) AS cap
      FROM per_src p CROSS JOIN tot t
    ),
    z AS (SELECT CAST(sum(cap) AS BIGINT) AS zc FROM w)"""


def waterfill_select(*lead: str) -> str:
    """The water-fill report over ``WATERFILL_CTES``: the ``lead``
    expressions (over ``marked m``), then n_tokens, cap_tokens, is_capped
    and the allocation columns."""
    return f"""
    SELECT {", ".join(lead)}, m.n_tokens, m.cap_tokens, m.is_capped,
           CAST(m.b AS BIGINT) AS budget_tokens,
           round(CASE WHEN m.is_capped THEN m.cap_tokens / 1.0
                      ELSE (m.b - l.p_k) / (m.n - l.k) END, 6) AS alloc_tokens,
           round(CASE WHEN m.is_capped THEN m.cap_tokens / m.b
                      ELSE (m.b - l.p_k) / ((m.n - l.k) * m.b) END, 6) AS alloc_share,
           round(CASE WHEN m.cap_tokens = 0 THEN 0.0
                      WHEN m.is_capped THEN 4.0
                      ELSE (m.b - l.p_k) / ((m.n - l.k) * m.n_tokens) END, 6)
             AS epochs_equiv
    FROM marked m CROSS JOIN lvl l"""


# --- similarity -----------------------------------------------------------------
def cos_sql(a: str, b: str) -> str:
    """Cosine of two DOUBLE[] expressions, rounded to 6 — index-order
    ``list_inner_product``, bit-identical to operators/similarity.cosine's
    ``aggregate(zip_with(...))`` on double-cast arrays."""
    return (
        f"round(list_inner_product({a}, {b})"
        f" / (sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b}))), 6)"
    )


def exact_topk_cte(q: str = "q") -> str:
    """CTE ``exact(query_id, neighbor_id)`` — the brute-force cosine top-5
    of every probe in ``q(query_id, qve)`` over ``v(vec_id, ve)``, ties to
    the lower vec_id (operators/similarity.brute_force_topk)."""
    return f"""
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT {q}.query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY {q}.query_id
                 ORDER BY {cos_sql("v.ve", f"{q}.qve")} DESC,
                   v.vec_id ASC) AS rank
        FROM v CROSS JOIN {q} WHERE v.vec_id <> {q}.query_id
      ) WHERE rank <= 5
    )"""
