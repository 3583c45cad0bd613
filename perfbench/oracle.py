"""DuckDB side of the benchmark: table digests, the row-answer normalizer,
and the search oracles the `serve` workload is checked against.

Nothing here imports Spark. The oracle SQL for registered rows comes from
the engine's registry; the search oracles below are the benchmark's own
copies of the BM25 and cosine templates, so a change to the engine's
templates cannot silently move the check.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def connect(base_dir: str) -> duckdb.DuckDBPyConnection:
    """A fresh connection with every base table as a view over its parquet."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(base_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def table_digests(base_dir: str) -> dict[str, list]:
    """Per-table content digest: [row count, sum of row hashes]. Order-
    insensitive, so it pins content, not file layout."""
    con = connect(base_dir)
    try:
        out = {}
        for t in TABLES:
            n, h = con.execute(f"SELECT count(*), sum(hash(x))::VARCHAR FROM {t} x").fetchone()
            out[t] = [n, h]
        return out
    finally:
        con.close()


# ---------------------------------------------------------------- answers


def _norm_val(v):
    """One value in the canonical form both engines' answers are compared
    in: Python scalars, floats with NaN and -0.0 folded, lists as tuples."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, (list, tuple)):
        return tuple(_norm_val(x) for x in v)
    return v


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Columns sorted by name, values canonical, rows sorted: an order-
    insensitive answer, as the repo's local oracle gate compares them."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_val(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def _from_pandas(v, kind: str):
    """A value from a toPandas frame back to the Python type DuckDB
    returns. `kind` is the Spark column type's simpleString. Pandas folds
    SQL NULL into NaN for numeric columns, so a NaN there reads as NULL."""
    if v is None:
        return None
    if kind in ("double", "float"):
        f = float(v)
        return None if math.isnan(f) else f
    if kind in ("bigint", "int", "smallint", "tinyint"):
        if isinstance(v, float) and math.isnan(v):
            return None
        return int(v)
    if kind == "boolean":
        return bool(v)
    if kind.startswith("timestamp"):
        return None if pd.isna(v) else pd.Timestamp(v).to_pydatetime()
    if kind.startswith("array"):
        inner = kind[len("array<") : -1]
        return [_from_pandas(x, inner) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "item"):
        return v.item()
    return v


def _duck_val(v):
    """DuckDB side: the same NULL/NaN folding the pandas side cannot avoid,
    applied to float values; everything else passes through."""
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, list):
        return [_duck_val(x) for x in v]
    return v


def spark_answer(pdf, schema) -> tuple[list[str], list[tuple]]:
    """(columns, normalized rows) of a toPandas result, typed by the
    Spark schema it came from."""
    cols = list(pdf.columns)
    kinds = [f.dataType.simpleString() for f in schema.fields]
    rows = [
        tuple(_from_pandas(v, k) for v, k in zip(rec, kinds))
        for rec in pdf.itertuples(index=False, name=None)
    ]
    return sorted(cols), normalize(rows, cols)


def duck_answer(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    cols = list(rel.columns)
    rows = [tuple(_duck_val(v) for v in r) for r in rel.fetchall()]
    return sorted(cols), normalize(rows, cols)


def same_answer(got, want) -> str | None:
    """None when equal, else a one-line reason."""
    gcols, grows = got
    wcols, wrows = want
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"rowcount {len(grows)} != {len(wrows)}"
    bad = sum(1 for a, b in zip(grows, wrows) if a != b)
    if bad:
        first = next((a, b) for a, b in zip(grows, wrows) if a != b)
        return f"values differ in {bad}/{len(grows)} rows, first {first[0]!r} != {first[1]!r}"
    return None


# -------------------------------------------------------- search oracles

# BM25 (k1=1.2, b=0.75, Lucene idf) over the serving view `docs`, with the
# same tokenization and score expression as the engine's registered BM25
# oracle. `qterms` is a DuckDB list literal.
_BM25 = """
    toks AS (
        SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS term
        FROM docs
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
    qterms AS (SELECT DISTINCT unnest({qterms}) AS term),
    dfreq AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf
        WHERE term IN (SELECT term FROM qterms) GROUP BY term
    ),
    kw AS (
        SELECT tf.doc_id,
               sum( ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                    * (tf.tf * 2.2)
                    / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) ) AS score
        FROM tf
        JOIN qterms q ON tf.term = q.term
        JOIN dfreq d  ON tf.term = d.term
        JOIN dl       ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    )
"""

# Cosine against a literal query vector, NULL on a zero norm.
_COS = """
    vec AS (
        SELECT CAST(vec_id AS VARCHAR) AS doc_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    cos AS (
        SELECT doc_id,
               round(CASE WHEN sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q, q)) <> 0
                          THEN list_dot_product(v, q)
                               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q, q)))
                     END, 4) AS score
        FROM vec, (SELECT {qvec}::DOUBLE[] AS q)
    )
"""

RRF_K = 60


def _qterms(terms: list[str]) -> str:
    return "[" + ", ".join("'" + t.replace("'", "''") + "'" for t in terms) + "]"


def _qvec(vec: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in vec) + "]"


def search_oracle(
    con: duckdb.DuckDBPyConnection,
    mode: str,
    terms: list[str],
    qvec: list[float],
    limit: int,
) -> list[tuple[str, float]]:
    """Ranked (doc_id, score) for one search, string doc_id tie order.
    Keyword ranks by the BM25 score rounded to 4 digits; vector by the
    rounded cosine; hybrid fuses each side's top 2*limit with RRF (k=60),
    rounded to 6 digits."""
    order = "ORDER BY round(score, 4) DESC, doc_id"
    if mode == "keyword":
        sql = (
            f"WITH {_BM25.format(qterms=_qterms(terms))} "
            f"SELECT doc_id, round(score, 4) AS score FROM kw {order} LIMIT {limit}"
        )
    elif mode == "vector":
        sql = f"WITH {_COS.format(qvec=_qvec(qvec))} SELECT doc_id, score FROM cos {order} LIMIT {limit}"
    elif mode == "hybrid":
        k = 2 * limit
        sql = f"""
        WITH {_BM25.format(qterms=_qterms(terms))}, {_COS.format(qvec=_qvec(qvec))},
        kw_rank AS (SELECT doc_id, row_number() OVER ({order}) AS rank
                    FROM (SELECT * FROM kw {order} LIMIT {k})),
        vec_rank AS (SELECT doc_id, row_number() OVER ({order}) AS rank
                     FROM (SELECT * FROM cos {order} LIMIT {k})),
        u AS (SELECT doc_id, 1.0 / ({RRF_K} + rank) AS c FROM kw_rank
              UNION ALL SELECT doc_id, 1.0 / ({RRF_K} + rank) AS c FROM vec_rank)
        SELECT doc_id, round(sum(c), 6) AS score FROM u GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT {limit}
        """
    else:
        raise ValueError(mode)
    return [(str(d), float(s)) for d, s in con.execute(sql).fetchall()]


class ServingMirror:
    """The serving view (lake documents plus this run's uploads) mirrored
    into DuckDB, so every search is checked against what the engine should
    see at that moment."""

    def __init__(self, base_dir: str) -> None:
        self.con = connect(base_dir)
        self.con.execute("CREATE TABLE uploads (doc_id VARCHAR, text VARCHAR)")
        self.con.execute(
            "CREATE VIEW docs AS SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents "
            "UNION ALL SELECT doc_id, text FROM uploads"
        )
        self._uploads: dict[str, str] = {}

    def add_upload(self, doc_id: str, text: str) -> None:
        self.con.execute("INSERT INTO uploads VALUES (?, ?)", [doc_id, text])
        self._uploads[doc_id] = text

    def text_of(self, doc_id: str) -> str | None:
        if doc_id in self._uploads:
            return self._uploads[doc_id]
        if not doc_id.isdigit():
            return None
        row = self.con.execute(
            "SELECT text FROM documents WHERE doc_id = ?", [int(doc_id)]
        ).fetchone()
        return None if row is None else row[0]

    def doc_row(self, doc_id: int) -> tuple[str, str] | None:
        """(source, text) of a lake document."""
        return self.con.execute(
            "SELECT source, text FROM documents WHERE doc_id = ?", [doc_id]
        ).fetchone()

    def close(self) -> None:
        self.con.close()

