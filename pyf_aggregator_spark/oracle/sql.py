"""ANSI-SQL (DuckDB-runnable) oracle generators.

The driver runs these side-by-side with the Spark queries at sf0.01
(order-insensitive value-hash). Tokenization, BM25 math, rounding and
tie-breaks mirror functions/tokenize.py + search/engine.py exactly.
"""

from __future__ import annotations

from pyf_aggregator_spark import B, K1
from pyf_aggregator_spark.functions.tokenize import tokenize_py
from pyf_aggregator_spark.search.engine import SCORE_DECIMALS

# DuckDB regex for the shared tokenizer contract (db.py:241 analog)
SEP_RE_SQL = r"[\s.\-_@/]+"

TOKENS_CTE = f"""
tok AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '{SEP_RE_SQL}')) AS t
    FROM documents
  ) WHERE t <> ''
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term),
dl AS (
  SELECT d.doc_id, coalesce(s.doc_len, 0)::BIGINT AS doc_len
  FROM documents d LEFT JOIN (
    SELECT doc_id, sum(tf) AS doc_len FROM tf GROUP BY doc_id
  ) s USING (doc_id)
),
dfreq AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY term),
corpus AS (
  SELECT count(*)::BIGINT AS n_docs,
         coalesce(sum(doc_len), 0)::BIGINT AS total_len,
         coalesce(sum(doc_len), 0)::DOUBLE / count(*) AS avgdl
  FROM dl
)"""


def bm25_topk_sql(query: str, k: int = 10, mode: str = "or") -> str:
    """Top-k BM25 over the `documents` view, identical semantics to
    search.engine.bm25_topk (same idf, rounding, tie-break)."""
    terms = sorted(set(tokenize_py(query)))
    if not terms:
        return "SELECT doc_id, 0.0::DOUBLE AS score FROM documents WHERE 1=0"
    in_list = ", ".join(f"'{t}'" for t in terms)
    having = f"HAVING count(*) = {len(terms)}" if mode == "and" else ""
    return f"""
WITH {TOKENS_CTE},
hits AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (c.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / c.avgdl))
         ) AS raw_score,
         count(*) AS nmatch
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN corpus c
  WHERE tf.term IN ({in_list})
  GROUP BY tf.doc_id
  {having}
)
SELECT doc_id, round(raw_score, {SCORE_DECIMALS}) AS score
FROM hits
ORDER BY round(raw_score, {SCORE_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""


def _field_ctes(col: str, p: str) -> str:
    """TOKENS_CTE parametrized by text column and CTE prefix."""
    return f"""
{p}tok AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(string_split_regex(lower({col}), '{SEP_RE_SQL}')) AS t
    FROM documents
  ) WHERE t <> ''
),
{p}tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM {p}tok GROUP BY doc_id, term),
{p}dl AS (
  SELECT d.doc_id, coalesce(s.doc_len, 0)::BIGINT AS doc_len
  FROM documents d LEFT JOIN (
    SELECT doc_id, sum(tf) AS doc_len FROM {p}tf GROUP BY doc_id
  ) s USING (doc_id)
),
{p}dfreq AS (SELECT term, count(*)::BIGINT AS df FROM {p}tf GROUP BY term),
{p}corpus AS (
  SELECT count(*)::BIGINT AS n_docs,
         coalesce(sum(doc_len), 0)::DOUBLE / count(*) AS avgdl
  FROM {p}dl
),
{p}hits AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (c.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / c.avgdl))
         ) AS raw_score
  FROM {p}tf tf
  JOIN {p}dfreq dfreq USING (term)
  JOIN {p}dl dl USING (doc_id)
  CROSS JOIN {p}corpus c
  WHERE tf.term IN ({{in_list}})
  GROUP BY tf.doc_id
)"""


def bm25_multifield_sql(
    query: str, fields: dict[str, float], k: int = 10
) -> str:
    """Weighted multi-field disjunctive BM25 (query_by_weights analog):
    score = Σ_field weight · bm25_field; a doc matches if ANY field
    matches."""
    terms = sorted(set(tokenize_py(query)))
    in_list = ", ".join(f"'{t}'" for t in terms)
    ctes = ",".join(
        _field_ctes(col, f"f{i}_").format(in_list=in_list)
        for i, col in enumerate(fields)
    )
    weighted = " + ".join(
        f"coalesce(f{i}_score, 0.0) * {w}" for i, w in enumerate(fields.values())
    )
    # union doc_ids then left join each field's hit set
    union_ids = " UNION ".join(
        f"SELECT doc_id FROM f{i}_hits" for i in range(len(fields))
    )
    left_joins = " ".join(
        f"LEFT JOIN (SELECT doc_id, raw_score AS f{i}_score FROM f{i}_hits) s{i} USING (doc_id)"
        for i in range(len(fields))
    )
    return f"""
WITH {ctes},
ids AS ({union_ids})
SELECT doc_id, round({weighted}, {SCORE_DECIMALS}) AS score
FROM ids {left_joins}
ORDER BY round({weighted}, {SCORE_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""


def _field_base_ctes(col: str, p: str) -> str:
    """Per-field token/stat CTEs (no hit aggregation) — the building
    blocks for the multifield-defaults oracles."""
    return f"""
{p}tok AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(string_split_regex(lower({col}), '{SEP_RE_SQL}')) AS t
    FROM documents
  ) WHERE t <> ''
),
{p}tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM {p}tok GROUP BY doc_id, term),
{p}dl AS (
  SELECT d.doc_id, coalesce(s.doc_len, 0)::BIGINT AS doc_len
  FROM documents d LEFT JOIN (
    SELECT doc_id, sum(tf) AS doc_len FROM {p}tf GROUP BY doc_id
  ) s USING (doc_id)
),
{p}dfreq AS (SELECT term, count(*)::BIGINT AS df FROM {p}tf GROUP BY term),
{p}corpus AS (
  SELECT count(*)::BIGINT AS n_docs,
         coalesce(sum(doc_len), 0)::DOUBLE / count(*) AS avgdl
  FROM {p}dl
)"""


def _field_per_cte(p: str, in_list_sql: str) -> str:
    """{p}per(doc_id, term, contrib): one field's per-(doc, term)
    UNWEIGHTED BM25 contributions, restricted to ``in_list_sql``."""
    return f"""
{p}per AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (c.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / c.avgdl))
         AS contrib
  FROM {p}tf tf
  JOIN {p}dfreq dfreq USING (term)
  JOIN {p}dl dl USING (doc_id)
  CROSS JOIN {p}corpus c
  WHERE tf.term IN {in_list_sql}
)"""


def _mf_scaffold(
    fields: dict[str, float], in_list_sql: str, mid_ctes: str = ""
) -> str:
    """Shared multifield CTE chain: per-field bases → ``mid_ctes``
    (vocab/expansion/correction CTEs that need dfreq but must precede
    the per-term restriction) → per-field contribs → union_per(doc_id,
    term, fi, wcontrib) with the field weight folded in."""
    bases = ",".join(
        _field_base_ctes(col, f"f{i}_") for i, col in enumerate(fields)
    )
    pers = ",".join(
        _field_per_cte(f"f{i}_", in_list_sql) for i in range(len(fields))
    )
    union = " UNION ALL ".join(
        f"SELECT doc_id, term, {i} AS fi, contrib * {w} AS wcontrib FROM f{i}_per"
        for i, w in enumerate(fields.values())
    )
    mid = f"{mid_ctes}," if mid_ctes else ""
    return f"{bases},{mid}{pers},\nunion_per AS ({union})"


def _mf_vocab_cte(n_fields: int) -> str:
    """mfvocab(term, df): document frequency summed across fields —
    the vocabulary the engine's multifield typo/prefix paths use
    (facade: mf term_stats groupBy(term).sum(df))."""
    union = " UNION ALL ".join(
        f"SELECT term, df FROM f{i}_dfreq" for i in range(n_fields)
    )
    return (
        f"mfvocab AS (SELECT term, sum(df)::BIGINT AS df FROM ({union}) "
        "GROUP BY term)"
    )


def bm25_multifield_and_sql(
    query: str, fields: dict[str, float], k: int = 10
) -> str:
    """Multifield AND oracle: every query token must appear in AT LEAST
    ONE queried field (Typesense multifield AND); score stays the
    weighted sum over every matched (field, term)."""
    terms = sorted(set(tokenize_py(query)))
    in_list = "(" + ", ".join(f"'{t}'" for t in terms) + ")"
    return f"""
WITH {_mf_scaffold(fields, in_list)},
agg AS (
  SELECT doc_id, sum(wcontrib) AS raw
  FROM union_per GROUP BY doc_id
  HAVING count(DISTINCT term) = {len(terms)}
)
SELECT doc_id, round(raw, {SCORE_DECIMALS}) AS score FROM agg
ORDER BY round(raw, {SCORE_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""


def prefix_multifield_sql(
    query: str, fields: dict[str, float], k: int = 10,
    max_expansions: int = 50,
) -> str:
    """Multifield prefix oracle: the last token expands against the
    SUMMED-df vocabulary (replayed here from mfvocab, independently of
    the engine); per FIELD the expansion set contributes each doc's
    BEST completion (max), fixed tokens contribute normally, fields
    sum under their weights — mirroring wand._query_spec's (field, token)
    scoring slots. Disjunctive."""
    toks = tokenize_py(query)
    assert toks, "prefix oracle needs a non-empty query"
    *fixed, last = toks
    fixed = sorted(set(fixed))
    fixed_in = ", ".join(f"'{t}'" for t in fixed) or "''"
    pre = last.replace("'", "''")
    mid = f"""
{_mf_vocab_cte(len(fields))},
exp AS (
  -- no fixed-token exclusion: mirrors the engine's raw expansion +
  -- kernel multi-membership (a shared term counts in both slots)
  SELECT term FROM mfvocab
  WHERE term LIKE '{pre}%'
  ORDER BY df DESC, term ASC LIMIT {max_expansions}
),
qterms AS (
  SELECT unnest(ARRAY[{fixed_in}]) AS term WHERE len(ARRAY[{fixed_in}]) > 0
  UNION SELECT term FROM exp
)"""
    return f"""
WITH {_mf_scaffold(fields, "(SELECT term FROM qterms)", mid)},
fixed_part AS (
  SELECT doc_id, sum(wcontrib) AS s FROM union_per
  WHERE term IN ({fixed_in}) GROUP BY doc_id
),
exp_part AS (
  SELECT doc_id, sum(m) AS s FROM (
    SELECT doc_id, fi, max(wcontrib) AS m FROM union_per
    WHERE term IN (SELECT term FROM exp) GROUP BY doc_id, fi
  ) GROUP BY doc_id
),
ids AS (SELECT doc_id FROM fixed_part UNION SELECT doc_id FROM exp_part),
agg AS (
  SELECT i.doc_id, coalesce(f.s, 0) + coalesce(e.s, 0) AS raw
  FROM ids i
  LEFT JOIN fixed_part f USING (doc_id)
  LEFT JOIN exp_part e USING (doc_id)
)
SELECT doc_id, round(raw, {SCORE_DECIMALS}) AS score FROM agg
ORDER BY round(raw, {SCORE_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""


def infix_multifield_sql(
    query: str, fields: dict[str, float], k: int = 10,
    max_expansions: int = 50,
) -> str:
    """Multifield infix oracle (single-token probe): the token expands
    against the SUMMED-df vocabulary words CONTAINING it (LIKE scan,
    df-ranked, capped — replayed here from mfvocab independently of the
    engine's expansion), and the probed token itself always rides in
    the slot (search/infix.py prepends it before the cap). Per FIELD
    the expansion set contributes each doc's BEST matched word (max),
    fields sum under their weights — the same (field, slot) scoring as
    prefix_multifield_sql."""
    toks = tokenize_py(query)
    assert len(toks) == 1, "mf infix oracle grades a single-token probe"
    tok = toks[0].replace("'", "''")
    # the engine expands with a literal Column.contains — escape LIKE
    # wildcards so a token containing % (the tokenizer keeps it) stays
    # a literal containment probe here too
    tok_like = (
        toks[0].replace("\\", "\\\\").replace("%", "\\%")
        .replace("_", "\\_").replace("'", "''")
    )
    mid = f"""
{_mf_vocab_cte(len(fields))},
exp AS (
  SELECT term FROM (
    SELECT term FROM mfvocab
    WHERE term LIKE '%{tok_like}%' ESCAPE '\\'
    ORDER BY df DESC, term ASC LIMIT {max_expansions}
  )
  UNION
  SELECT term FROM mfvocab WHERE term = '{tok}'
)"""
    return f"""
WITH {_mf_scaffold(fields, "(SELECT term FROM exp)", mid)},
agg AS (
  SELECT doc_id, sum(m) AS raw FROM (
    SELECT doc_id, fi, max(wcontrib) AS m FROM union_per
    GROUP BY doc_id, fi
  ) GROUP BY doc_id
)
SELECT doc_id, round(raw, {SCORE_DECIMALS}) AS score FROM agg
ORDER BY round(raw, {SCORE_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""


def drop_tokens_multifield_sql(
    query: str, fields: dict[str, float], k: int = 10, threshold: int = 1
) -> str:
    """Multifield drop_tokens oracle: one multifield-AND hit set per
    prefix of the token list (a doc qualifies when every prefix token
    appears in ≥1 field); the longest prefix with ≥ threshold matches
    wins, the single-token prefix unconditionally — the cascade decided
    in SQL, independently of the engine's retry loop."""
    toks = tokenize_py(query)
    assert toks, "drop_tokens oracle needs a non-empty query"
    all_terms = sorted(set(toks))
    in_list = "(" + ", ".join(f"'{t}'" for t in all_terms) + ")"
    prefixes = [toks[:j] for j in range(len(toks), 0, -1)]
    ctes, selects = [], []
    for i, pfx in enumerate(prefixes):
        terms = sorted(set(pfx))
        pfx_in = ", ".join(f"'{t}'" for t in terms)
        ctes.append(f"""
h{i} AS (
  SELECT doc_id, sum(wcontrib) AS raw
  FROM union_per WHERE term IN ({pfx_in})
  GROUP BY doc_id
  HAVING count(DISTINCT term) = {len(terms)}
)""")
        shorter_all_below = " AND ".join(
            f"(SELECT count(*) FROM h{j}) < {threshold}" for j in range(i)
        )
        own = (
            f"(SELECT count(*) FROM h{i}) >= {threshold}"
            if i < len(prefixes) - 1
            else "1=1"
        )
        cond = f"{shorter_all_below} AND {own}" if shorter_all_below else own
        selects.append(f"SELECT doc_id, raw FROM h{i} WHERE {cond}")
    union = "\n  UNION ALL ".join(selects)
    return f"""
WITH {_mf_scaffold(fields, in_list)},{",".join(ctes)}
SELECT doc_id, round(raw, {SCORE_DECIMALS}) AS score
FROM ({union})
ORDER BY round(raw, {SCORE_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""


def typo_multifield_sql(
    query: str, fields: dict[str, float], k: int = 10, num_typos: int = 2
) -> str:
    """Multifield typo oracle: corrections replayed by brute-force
    Levenshtein over the SUMMED-df vocabulary (the engine corrects
    against mf term_stats df summed across fields), then the corrected
    terms score disjunctively under the field weights."""
    from pyf_aggregator_spark.search.typo import (
        MAX_TERM_LEN,
        MIN_LEN_1TYPO,
        MIN_LEN_2TYPO,
    )

    qterms = sorted(set(tokenize_py(query)))
    arr = ", ".join(f"'{t}'" for t in qterms)
    mid = f"""
{_mf_vocab_cte(len(fields))},
qt AS (SELECT unnest(ARRAY[{arr}]) AS qterm),
corr AS (
  SELECT qterm, coalesce(
    (SELECT term FROM mfvocab WHERE term = qterm),
    (SELECT term FROM mfvocab
      WHERE length(term) <= {MAX_TERM_LEN}
        AND levenshtein(qterm, term) <= least(
              CASE WHEN length(qterm) >= {MIN_LEN_2TYPO} THEN 2
                   WHEN length(qterm) >= {MIN_LEN_1TYPO} THEN 1
                   ELSE 0 END, {num_typos})
      ORDER BY levenshtein(qterm, term) ASC, df DESC, term ASC
      LIMIT 1)
  ) AS term FROM qt
),
cterms AS (SELECT DISTINCT term FROM corr WHERE term IS NOT NULL)"""
    return f"""
WITH {_mf_scaffold(fields, "(SELECT term FROM cterms)", mid)},
agg AS (SELECT doc_id, sum(wcontrib) AS raw FROM union_per GROUP BY doc_id)
SELECT doc_id, round(raw, {SCORE_DECIMALS}) AS score FROM agg
ORDER BY round(raw, {SCORE_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""


def typo_topk_sql(query: str, k: int = 10, num_typos: int = 2) -> str:
    """Typo-tolerant disjunctive top-k: replays search/typo.py's
    correction INDEPENDENTLY (brute-force Levenshtein over the
    vocabulary — equivalent to the SymSpell neighborhood by the
    deletion-intersection theorem, since both sides use the same
    length gates), then scores the corrected terms. Known terms pass
    through; unknown terms take the lowest-distance, then highest-df,
    then lexicographically-smallest neighbor; uncorrectable terms
    contribute nothing."""
    from pyf_aggregator_spark.search.typo import (
        MAX_TERM_LEN,
        MIN_LEN_1TYPO,
        MIN_LEN_2TYPO,
    )

    qterms = sorted(set(tokenize_py(query)))
    arr = ", ".join(f"'{t}'" for t in qterms)
    return f"""
WITH {TOKENS_CTE},
qt AS (SELECT unnest(ARRAY[{arr}]) AS qterm),
corr AS (
  SELECT qterm, coalesce(
    (SELECT term FROM dfreq WHERE term = qterm),
    (SELECT term FROM dfreq
      WHERE length(term) <= {MAX_TERM_LEN}
        AND levenshtein(qterm, term) <= least(
              CASE WHEN length(qterm) >= {MIN_LEN_2TYPO} THEN 2
                   WHEN length(qterm) >= {MIN_LEN_1TYPO} THEN 1
                   ELSE 0 END, {num_typos})
      ORDER BY levenshtein(qterm, term) ASC, df DESC, term ASC
      LIMIT 1)
  ) AS term FROM qt
),
cterms AS (SELECT DISTINCT term FROM corr WHERE term IS NOT NULL),
hits AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (c.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / c.avgdl))
         ) AS raw_score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN corpus c
  WHERE tf.term IN (SELECT term FROM cterms)
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw_score, {SCORE_DECIMALS}) AS score
FROM hits
ORDER BY round(raw_score, {SCORE_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""


def drop_tokens_topk_sql(query: str, k: int = 10, threshold: int = 1) -> str:
    """drop_tokens fallback oracle (and-mode, right-to-left like the
    Typesense default): one AND-mode hit set per prefix of the token
    list; the longest prefix with ≥ threshold total matches wins (the
    single-token prefix wins unconditionally) — the cascade is decided
    IN SQL, independently of the implementation's retry loop."""
    toks = tokenize_py(query)
    assert toks, "drop_tokens oracle needs a non-empty query"
    prefixes = [toks[:j] for j in range(len(toks), 0, -1)]
    ctes, selects = [], []
    for i, pfx in enumerate(prefixes):
        terms = sorted(set(pfx))
        in_list = ", ".join(f"'{t}'" for t in terms)
        ctes.append(f"""
h{i} AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (c.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / c.avgdl))
         ) AS raw_score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN corpus c
  WHERE tf.term IN ({in_list})
  GROUP BY tf.doc_id
  HAVING count(*) = {len(terms)}
)""")
        shorter_all_below = " AND ".join(
            f"(SELECT count(*) FROM h{j}) < {threshold}" for j in range(i)
        )
        own = (
            f"(SELECT count(*) FROM h{i}) >= {threshold}"
            if i < len(prefixes) - 1
            else "1=1"  # last prefix (one token) returns unconditionally
        )
        cond = f"{shorter_all_below} AND {own}" if shorter_all_below else own
        selects.append(f"SELECT doc_id, raw_score FROM h{i} WHERE {cond}")
    union = "\n  UNION ALL ".join(selects)
    return f"""
WITH {TOKENS_CTE},{",".join(ctes)}
SELECT doc_id, round(raw_score, {SCORE_DECIMALS}) AS score
FROM ({union})
ORDER BY round(raw_score, {SCORE_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""


def prefix_topk_sql(query: str, k: int = 10, max_expansions: int = 50) -> str:
    """Prefix (autocomplete) oracle with Typesense's single-completion
    scoring: the last token expands against the vocabulary (df-ranked,
    capped — replayed HERE from dfreq, independently of the engine's
    expansion), fixed tokens score normally, and the expansion set
    contributes each doc's BEST completion (MAX), mirroring
    search/prefix.py + wand.py::wand_topk(slot_terms=). Disjunctive across
    slots."""
    toks = tokenize_py(query)
    assert toks, "prefix oracle needs a non-empty query"
    *fixed, last = toks
    fixed = sorted(set(fixed))
    fixed_in = ", ".join(f"'{t}'" for t in fixed) or "''"
    pre = last.replace("'", "''")
    return f"""
WITH {TOKENS_CTE},
exp AS (
  -- the engine expands against the raw vocabulary (expand_prefix has
  -- no fixed-token exclusion): a fixed token that is also a completion
  -- belongs to BOTH slots (kernel multi-membership) — it contributes
  -- to the fixed sum AND competes in the expansion max
  SELECT term FROM dfreq
  WHERE term LIKE '{pre}%'
  ORDER BY df DESC, term ASC LIMIT {max_expansions}
),
per AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (c.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / c.avgdl))
         AS contrib
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN corpus c
  WHERE tf.term IN ({fixed_in}) OR tf.term IN (SELECT term FROM exp)
),
agg AS (
  SELECT doc_id,
         coalesce(sum(CASE WHEN term IN ({fixed_in}) THEN contrib END), 0)
         + coalesce(max(CASE WHEN term IN (SELECT term FROM exp)
                         THEN contrib END), 0)
         AS raw_score
  FROM per GROUP BY doc_id
)
SELECT doc_id, round(raw_score, {SCORE_DECIMALS}) AS score
FROM agg
ORDER BY round(raw_score, {SCORE_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""


def infix_topk_sql(query: str, k: int = 10, max_expansions: int = 50) -> str:
    """Infix oracle (single-token probe): the token expands against
    the vocabulary words CONTAINING it (df-ranked, capped — replayed
    here from dfreq with a LIKE '%tok%' scan, independently of the
    engine's expansion), and the expansion set scores each doc's BEST
    matched word (MAX), mirroring search/infix.py + wand_topk's
    single-slot scoring."""
    toks = tokenize_py(query)
    assert len(toks) == 1, "infix oracle grades a single-token probe"
    tok = toks[0].replace("'", "''")
    # literal containment, like the engine's Column.contains — escape
    # LIKE wildcards (a token may contain %; the tokenizer keeps it)
    tok_like = (
        toks[0].replace("\\", "\\\\").replace("%", "\\%")
        .replace("_", "\\_").replace("'", "''")
    )
    return f"""
WITH {TOKENS_CTE},
exp AS (
  -- the engine always keeps the probed token itself in the slot
  -- (search/infix.py prepends it before the df-ranked cap), so a
  -- vocabulary token ranked below the cap still matches exactly
  SELECT term FROM (
    SELECT term FROM dfreq
    WHERE term LIKE '%{tok_like}%' ESCAPE '\\'
    ORDER BY df DESC, term ASC LIMIT {max_expansions}
  )
  UNION
  SELECT term FROM dfreq WHERE term = '{tok}'
),
per AS (
  SELECT tf.doc_id,
         ln(1.0 + (c.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / c.avgdl))
         AS contrib
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN corpus c
  WHERE tf.term IN (SELECT term FROM exp)
),
agg AS (SELECT doc_id, max(contrib) AS raw_score FROM per GROUP BY doc_id)
SELECT doc_id, round(raw_score, {SCORE_DECIMALS}) AS score
FROM agg
ORDER BY round(raw_score, {SCORE_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""


def highlight_topk_sql(query: str, k: int = 10, context: int = 30) -> str:
    """BM25 top-k + Typesense-style highlight/snippet columns,
    mirroring search/highlight.py exactly. The Spark side marks every
    tokenizer-boundary occurrence with a trailing LOOKAHEAD (Java
    regex); DuckDB's RE2 has no lookahead, so the oracle replays it as
    a TWO-PASS consuming replace ``(^|S)(alts)(S|$) → \\1<mark>\\2</mark>\\3``:
    pass 1 marks alternating occurrences in any adjacent run (the
    consumed trailing separator is re-emitted, so the skipped
    occurrence keeps both its separators), pass 2 catches the rest —
    two passes always converge because pass-1 leftovers are isolated
    between re-emitted separators, and the inserted markup can't
    re-match (``<``/``>`` are not in the separator class). The snippet
    regex is lookahead-free on both sides."""
    terms = sorted(set(tokenize_py(query)))
    import re as _re

    alts = "|".join(
        _re.escape(t) for t in sorted(set(terms), key=len, reverse=True)
    )
    sep = r"[\s.\-_@/]"
    mark_pat = f"(^|{sep})({alts})({sep}|$)"
    mark_rep = r"\1<mark>\2</mark>\3"
    snip_pat = (
        f".{{0,{context}}}(?:^|{sep})(?:{alts})(?:{sep}|$).{{0,{context}}}"
    )
    topk = bm25_topk_sql(query, k)
    return f"""
WITH topk AS ({topk})
SELECT t.doc_id, t.score,
       regexp_replace(
         regexp_replace(d.text, '{mark_pat}', '{mark_rep}', 'gi'),
         '{mark_pat}', '{mark_rep}', 'gi') AS highlight,
       regexp_extract(d.text, '{snip_pat}', 0, 'i') AS snippet
FROM topk t JOIN documents d USING (doc_id)
ORDER BY t.score DESC, t.doc_id ASC
"""


def term_stats_sql() -> str:
    return f"WITH {TOKENS_CTE} SELECT term, df, cf FROM dfreq ORDER BY term"


def doc_stats_sql() -> str:
    return f"WITH {TOKENS_CTE} SELECT doc_id, doc_len FROM dl ORDER BY doc_id"


def corpus_stats_sql() -> str:
    return (
        f"WITH {TOKENS_CTE} "
        "SELECT n_docs, total_len, round(avgdl, 6) AS avgdl FROM corpus"
    )


def _or_hits_cte(name: str, in_expr: str) -> str:
    """Disjunctive BM25 hit-set CTE over a term-set expression (either
    a literal IN list or a subquery) — shared by the split_join oracle's
    original/joined/rewritten rankings."""
    return f"""
{name} AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (c.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / c.avgdl))
         ) AS raw_score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN corpus c
  WHERE tf.term IN {in_expr}
  GROUP BY tf.doc_id
)"""


def split_join_topk_sql(query: str, k: int = 10) -> str:
    """split_join_tokens=fallback oracle (or-mode, ≤2-token probe —
    precedent: the infix oracles grade fixed probe shapes). Replays the
    engine rule (search/splitjoin.py) INDEPENDENTLY, every decision
    made in SQL from dfreq:

    1. the query as typed wins when it matches ≥1 document;
    2. else a greedy JOIN: the adjacent-pair concatenation, when it is
       a vocabulary term, replaces both tokens;
    3. else each token ABSENT from the vocabulary SPLITS into the
       two-vocabulary-word pair maximizing min(df(l), df(r)) (ties:
       leftmost split point); known tokens ride along unchanged;
    4. when neither rewrite is derivable the original (empty) result
       stands.

    The rewritten ranking scores the SQL-chosen term set — the split
    halves are data-chosen inside the query, never hard-coded."""
    toks = tokenize_py(query)
    assert 1 <= len(toks) <= 2, "split_join oracle grades a ≤2-token probe"
    orig_in = "(" + ", ".join(f"'{t}'" for t in sorted(set(toks))) + ")"
    joined = toks[0] + toks[1] if len(toks) == 2 else None

    # per-token best-split CTEs: candidate (left, right) literal pairs
    # enumerated at authoring time (the token is a probe literal), the
    # CHOICE made in SQL by df
    split_ctes, split_unions = [], []
    for ti, t in enumerate(toks):
        pairs = ", ".join(
            f"({i}, '{t[:i]}', '{t[i:]}')" for i in range(1, len(t))
        ) or "(0, '', '')"
        split_ctes.append(f"""
cand{ti} AS (
  SELECT v.i, v.l, v.r, least(fl.df, fr.df) AS min_df
  FROM (VALUES {pairs}) v(i, l, r)
  JOIN dfreq fl ON fl.term = v.l
  JOIN dfreq fr ON fr.term = v.r
),
best{ti} AS (
  SELECT l, r FROM cand{ti} ORDER BY min_df DESC, i ASC LIMIT 1
),
tok{ti} AS (
  -- the token's contribution to the rewritten term set: itself when
  -- known, its best split when unknown and splittable, else itself
  SELECT term FROM (SELECT '{t}' AS term) s
  WHERE EXISTS (SELECT 1 FROM dfreq WHERE term = '{t}')
  UNION ALL
  SELECT l FROM best{ti}
  WHERE NOT EXISTS (SELECT 1 FROM dfreq WHERE term = '{t}')
  UNION ALL
  SELECT r FROM best{ti}
  WHERE NOT EXISTS (SELECT 1 FROM dfreq WHERE term = '{t}')
)""")
        split_unions.append(f"SELECT term FROM tok{ti}")
    any_split = " OR ".join(
        f"""(EXISTS (SELECT 1 FROM best{ti})
         AND NOT EXISTS (SELECT 1 FROM dfreq WHERE term = '{t}'))"""
        for ti, t in enumerate(toks)
    )
    rewrite_terms = " UNION ".join(split_unions)

    join_exists = (
        f"EXISTS (SELECT 1 FROM dfreq WHERE term = '{joined}')"
        if joined
        else "1=0"
    )
    orig_n = "(SELECT count(*) FROM h_orig)"
    branches = [
        f"SELECT doc_id, raw_score FROM h_orig WHERE {orig_n} >= 1",
        f"""SELECT doc_id, raw_score FROM h_joined
  WHERE {orig_n} = 0 AND {join_exists}""",
        f"""SELECT doc_id, raw_score FROM h_split
  WHERE {orig_n} = 0 AND NOT ({join_exists}) AND ({any_split})""",
    ]
    joined_cte = _or_hits_cte(
        "h_joined", f"('{joined}')" if joined else "('')"
    )
    return f"""
WITH {TOKENS_CTE},{_or_hits_cte("h_orig", orig_in)},{joined_cte},{",".join(split_ctes)},{_or_hits_cte("h_split", f"(SELECT term FROM ({rewrite_terms}))")}
SELECT doc_id, round(raw_score, {SCORE_DECIMALS}) AS score
FROM ({" UNION ALL ".join(branches)})
ORDER BY round(raw_score, {SCORE_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""


def split_join_multifield_sql(
    query: str, fields: dict[str, float], k: int = 10
) -> str:
    """Multifield split_join_tokens=fallback oracle (or-mode, ≤2-token
    probe): the same decision chain as split_join_topk_sql, but
    membership/df come from the SUMMED-df vocabulary (mfvocab — the
    stats the facade's query_by rewrite probes) and both rankings are
    weighted multifield sums. Every candidate term is an authoring-time
    literal (the probe's tokens, their concatenation, every split
    half); only the CHOICE is made in SQL."""
    toks = tokenize_py(query)
    assert 1 <= len(toks) <= 2, "split_join mf oracle grades a ≤2-token probe"
    joined = toks[0] + toks[1] if len(toks) == 2 else None

    cands = set(toks)
    if joined:
        cands.add(joined)
    for t in toks:
        for i in range(1, len(t)):
            cands.update((t[:i], t[i:]))
    all_in = "(" + ", ".join(f"'{c}'" for c in sorted(cands)) + ")"
    orig_in = "(" + ", ".join(f"'{t}'" for t in sorted(set(toks))) + ")"

    split_ctes, split_unions = [], []
    for ti, t in enumerate(toks):
        pairs = ", ".join(
            f"({i}, '{t[:i]}', '{t[i:]}')" for i in range(1, len(t))
        ) or "(0, '', '')"
        split_ctes.append(f"""
cand{ti} AS (
  SELECT v.i, v.l, v.r, least(fl.df, fr.df) AS min_df
  FROM (VALUES {pairs}) v(i, l, r)
  JOIN mfvocab fl ON fl.term = v.l
  JOIN mfvocab fr ON fr.term = v.r
),
best{ti} AS (
  SELECT l, r FROM cand{ti} ORDER BY min_df DESC, i ASC LIMIT 1
),
tok{ti} AS (
  SELECT term FROM (SELECT '{t}' AS term) s
  WHERE EXISTS (SELECT 1 FROM mfvocab WHERE term = '{t}')
  UNION ALL
  SELECT l FROM best{ti}
  WHERE NOT EXISTS (SELECT 1 FROM mfvocab WHERE term = '{t}')
  UNION ALL
  SELECT r FROM best{ti}
  WHERE NOT EXISTS (SELECT 1 FROM mfvocab WHERE term = '{t}')
)""")
        split_unions.append(f"SELECT term FROM tok{ti}")
    any_split = " OR ".join(
        f"""(EXISTS (SELECT 1 FROM best{ti})
         AND NOT EXISTS (SELECT 1 FROM mfvocab WHERE term = '{t}'))"""
        for ti, t in enumerate(toks)
    )
    join_exists = (
        f"EXISTS (SELECT 1 FROM mfvocab WHERE term = '{joined}')"
        if joined
        else "1=0"
    )
    rewr_terms = " UNION ".join(split_unions)
    mid = f"{_mf_vocab_cte(len(fields))},{','.join(split_ctes)}"
    orig_n = "(SELECT count(*) FROM orig_agg)"
    branches = [
        f"SELECT doc_id, raw FROM orig_agg WHERE {orig_n} >= 1",
        f"""SELECT doc_id, raw FROM joined_agg
  WHERE {orig_n} = 0 AND {join_exists}""",
        f"""SELECT doc_id, raw FROM rewr_agg
  WHERE {orig_n} = 0 AND NOT ({join_exists}) AND ({any_split})""",
    ]
    joined_in = f"('{joined}')" if joined else "('')"
    return f"""
WITH {_mf_scaffold(fields, all_in, mid)},
orig_agg AS (
  SELECT doc_id, sum(wcontrib) AS raw FROM union_per
  WHERE term IN {orig_in} GROUP BY doc_id
),
joined_agg AS (
  SELECT doc_id, sum(wcontrib) AS raw FROM union_per
  WHERE term IN {joined_in} GROUP BY doc_id
),
rewr_agg AS (
  SELECT doc_id, sum(wcontrib) AS raw FROM union_per
  WHERE term IN (SELECT term FROM ({rewr_terms})) GROUP BY doc_id
)
SELECT doc_id, round(raw, {SCORE_DECIMALS}) AS score
FROM ({" UNION ALL ".join(branches)})
ORDER BY round(raw, {SCORE_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""
