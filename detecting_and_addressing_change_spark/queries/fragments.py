"""DuckDB SQL fragments that several oracles share.

Importing this module registers no query, so any query module can build
its oracle text from these pieces at import time without moving itself
in the registry order.
"""

from __future__ import annotations


def _ddm_scan_cte(carry_error: bool) -> str:
    """The DDM recursion as a ``scan AS (...)`` CTE over a materialized
    ``seq(rn, seq_id, error)``: one row per iteration, every step the
    kernel's IEEE double arithmetic. ``carry_error`` threads each row's
    error through the recursion (the standalone scan returns it; the
    drift experiments join their own columns back from ``seq``)."""
    e = " error," if carry_error else ""
    e0 = "CAST(NULL AS DOUBLE) AS error, " if carry_error else ""
    return f"""scan AS (
  SELECT 0::BIGINT AS rn, CAST(NULL AS BIGINT) AS seq_id,
         {e0}CAST(NULL AS VARCHAR) AS flag,
         1::BIGINT AS n, 1.0::DOUBLE AS p,
         'infinity'::DOUBLE AS psmin, 'infinity'::DOUBLE AS pmin,
         'infinity'::DOUBLE AS smin, FALSE AS in_change
  UNION ALL
  SELECT rn, seq_id,{e}
         CASE WHEN n1 < 30 THEN 'N'
              WHEN p1 + s1 > pmin1 + 3.0 * smin1 THEN 'D'
              WHEN p1 + s1 > pmin1 + 2.0 * smin1 THEN 'W'
              ELSE 'N' END AS flag,
         n1 AS n, p1 AS p, psmin1 AS psmin, pmin1 AS pmin, smin1 AS smin,
         (n1 >= 30 AND p1 + s1 > pmin1 + 3.0 * smin1) AS in_change
  FROM (
    SELECT rn, seq_id,{e} n1, p1, s1,
           CASE WHEN n1 >= 30 AND p1 + s1 <= psmin0
                THEN p1 + s1 ELSE psmin0 END AS psmin1,
           CASE WHEN n1 >= 30 AND p1 + s1 <= psmin0
                THEN p1 ELSE pmin0 END AS pmin1,
           CASE WHEN n1 >= 30 AND p1 + s1 <= psmin0
                THEN s1 ELSE smin0 END AS smin1
    FROM (
      SELECT rn, seq_id,{e} n0 + 1 AS n1, p1,
             SQRT(GREATEST(p1 * (1.0 - p1), 0.0) / n0) AS s1,
             psmin0, pmin0, smin0
      FROM (
        SELECT scan.rn + 1 AS rn, seq.seq_id,{" seq.error," if carry_error else ""}
               CASE WHEN scan.in_change THEN 1 ELSE scan.n END AS n0,
               (CASE WHEN scan.in_change THEN 1.0 ELSE scan.p END)
                 + (seq.error
                    - (CASE WHEN scan.in_change THEN 1.0 ELSE scan.p END))
                   / (CASE WHEN scan.in_change THEN 1 ELSE scan.n END) AS p1,
               CASE WHEN scan.in_change THEN 'infinity'::DOUBLE
                    ELSE scan.psmin END AS psmin0,
               CASE WHEN scan.in_change THEN 'infinity'::DOUBLE
                    ELSE scan.pmin END AS pmin0,
               CASE WHEN scan.in_change THEN 'infinity'::DOUBLE
                    ELSE scan.smin END AS smin0
        FROM scan JOIN seq ON seq.rn = scan.rn + 1
      )
    )
  )
)
"""


# Gaussian NB fit over the embeddings table, scored back onto every
# vector and ending at ``post(vec_id, cls, lp)``: q28 keeps each vector's
# best class, x54 its best log-posterior.
_NB_EMBEDDINGS_CTES = """
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    ex AS (
      SELECT vec_id, label, UNNEST(emb) AS v,
             GENERATE_SUBSCRIPTS(emb, 1) AS d
      FROM e
    ),
    stats AS (
      SELECT label, d, COUNT(*) AS n, SUM(v)/COUNT(*) AS mean,
             SUM(v*v)/COUNT(*) - (SUM(v)/COUNT(*))*(SUM(v)/COUNT(*)) AS var
      FROM ex GROUP BY label, d
    ),
    mv AS (SELECT MAX(var) AS maxvar FROM stats),
    priors AS (SELECT label, COUNT(*) AS cnt FROM e GROUP BY label),
    total AS (SELECT COUNT(*) AS n_total FROM e),
    scored AS (
      SELECT ex.vec_id, s.label AS cls,
             SUM(-0.5*LN(2*PI()*(s.var + 1e-9*mv.maxvar))
                 - (ex.v - s.mean)*(ex.v - s.mean)
                   / (2*(s.var + 1e-9*mv.maxvar))) AS ll
      FROM ex JOIN stats s ON ex.d = s.d
      CROSS JOIN mv
      GROUP BY ex.vec_id, s.label
    ),
    post AS (
      SELECT scored.vec_id, cls,
             ll + LN(p.cnt::DOUBLE / t.n_total) AS lp
      FROM scored JOIN priors p ON scored.cls = p.label CROSS JOIN total t
    ),
"""

# The hash-embedding drift experiments (q39, q59, q60, x103) open alike:
# documents labelled by their dense-ranked language, then each document's
# first 512 space-split words and the 8 embedding dims.
_NB_DOCS_CTES = """
WITH RECURSIVE
langcode AS (
  SELECT lang, CAST(ROW_NUMBER() OVER (ORDER BY lang) - 1 AS INT) AS label
  FROM (SELECT DISTINCT lang FROM documents)
),
docs AS (
  SELECT d.doc_id, COALESCE(d.text, '') AS text, lc.label
  FROM documents d JOIN langcode lc ON d.lang = lc.lang
),
"""
_NB_WORDS_CTES = """doc_words AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word,
         GENERATE_SUBSCRIPTS(string_split(text, ' '), 1) AS pos
  FROM docs
),
doc_words_t AS (SELECT * FROM doc_words WHERE pos <= 512),
words AS (SELECT DISTINCT word FROM doc_words_t),
dims AS (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS d),
"""

# Both embedding spaces (BERT, SCIBERT) hashed, ordered-fold mean pooled,
# NB fitted on space A and both spaces scored, ending at
# ``preds(model, doc_id, pred)``.
_NB_TWO_MODEL_CTES = """models AS (SELECT UNNEST(['BERT', 'SCIBERT']) AS model),
word_pre AS (
  -- hash the 'model:word:' prefix once; each dim appends one digit char
  SELECT w.word, m.model,
         list_reduce(
             [7::BIGINT] || list_transform(
               string_split_regex(m.model || ':' || w.word || ':', ''),
               c -> ord(c)::BIGINT),
             (a, b) -> (a * 31 + b) % 2147483647) AS hpre
  FROM words w CROSS JOIN models m
),
word_emb AS (
  SELECT wp.word, wp.model, dm.d,
         CAST(sin((wp.hpre * 31 + 48 + dm.d) % 2147483647) * 2 - 1
              AS REAL) AS v32
  FROM word_pre wp CROSS JOIN dims dm
),
-- ordered-fold mean pooling: sum float32 tokens (as double) in pos order
pooled AS (
  SELECT dw.doc_id, we.model, we.d,
         list_reduce([0.0::DOUBLE] || LIST(we.v32::DOUBLE ORDER BY dw.pos),
                     (a, b) -> a + b) / COUNT(*) AS v
  FROM doc_words_t dw JOIN word_emb we ON dw.word = we.word
  GROUP BY dw.doc_id, we.model, we.d
),
train AS (
  SELECT p.doc_id, p.d, p.v, dc.label
  FROM pooled p JOIN docs dc ON p.doc_id = dc.doc_id
  WHERE p.model = 'BERT'
),
stats AS (
  SELECT label, d, COUNT(*) AS n, SUM(v)/COUNT(*) AS mean,
         SUM(v*v)/COUNT(*) - (SUM(v)/COUNT(*))*(SUM(v)/COUNT(*)) AS var
  FROM train GROUP BY label, d
),
mv AS (SELECT MAX(var) AS maxvar FROM stats),
priors AS (SELECT label, COUNT(*) AS cnt FROM train WHERE d = 0 GROUP BY label),
total AS (SELECT COUNT(*) AS n_total FROM docs),
scored AS (
  SELECT p.model, p.doc_id, s.label AS cls,
         SUM(-0.5*LN(2*PI()*(s.var + 1e-9*mv.maxvar))
             - (p.v - s.mean)*(p.v - s.mean)
               / (2*(s.var + 1e-9*mv.maxvar))) AS ll
  FROM pooled p JOIN stats s ON p.d = s.d
  CROSS JOIN mv
  GROUP BY p.model, p.doc_id, s.label
),
post AS (
  SELECT sc.model, sc.doc_id, sc.cls,
         sc.ll + LN(pr.cnt::DOUBLE / t.n_total) AS lp
  FROM scored sc JOIN priors pr ON sc.cls = pr.label CROSS JOIN total t
),
best AS (
  SELECT model, doc_id, cls,
         ROW_NUMBER() OVER (PARTITION BY model, doc_id
                            ORDER BY lp DESC, cls) AS r
  FROM post
),
preds AS (SELECT model, doc_id, cls AS pred FROM best WHERE r = 1),
"""

# The full relational NB drift pipeline: q39 appends the windowed-accuracy
# and DDM-scan tail, x103 a merged-stats second scoring pass.
_NB_PIPELINE_CTES = (
    _NB_DOCS_CTES
    + "n_docs AS (SELECT COUNT(*) AS n FROM docs),\n"
    + _NB_WORDS_CTES
    + _NB_TWO_MODEL_CTES
)

# q60 predates the two SQL comments of the two-model block; its oracle
# text is that block without them.
_NB_TWO_MODEL_BARE = "".join(
    line
    for line in _NB_TWO_MODEL_CTES.splitlines(keepends=True)
    if not line.lstrip().startswith("--")
)
