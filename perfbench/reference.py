"""Per-seed references computed by DuckDB over the benchmark's parquet inputs
(and, for the operators workload, the inputs themselves).

Each function reads the inputs under `d` and returns a JSON-able dict that
the JVM side loads before its first iteration (outside every timed region)
from `d/duckdb_ref.json`.
Semantics follow the engine's documented rules; the docstrings name them.
"""
import json
import math
import os

import duckdb

STEP, BLOCK, RATE_NS = 8, 16, 1000000  # frames of 16 tokens every 8; 1 kHz


def _connect():
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    return con


def _pq(d, name):
    return "read_parquet('%s')" % os.path.join(d, name, "*.parquet")


def operators(d):
    """Generates the operators workload's inputs from params.json (written by
    the JVM side) and computes its references.

    features: 87.5 % of the rows on doc_id 0, the rest over 10 000 doc_ids,
    ts on a 1 us grid over 1 s; fv and its nullness are functions of
    (doc_id, ts), so rows tied on both carry the same values and RANGE
    frames (all peers) equal the engine's ROWS frames over any tie order.
    vectors: 16-dim; ids in groups of 4, one group in 8 a planted cluster of
    near-identical vectors whose minimum id is the one kept."""
    with open(os.path.join(d, "params.json")) as f:
        p = json.load(f)
    seed, rows, vectors, gap = p["seed"], p["rows"], p["vectors"], p["gap"]
    con = _connect()
    for name in ("features", "queries", "vectors"):
        os.makedirs(os.path.join(d, name), exist_ok=True)

    def out(name):
        return os.path.join(d, name, "part-0.parquet")

    def entity(salt):
        return (f"CASE WHEN hash(i, {seed}, {salt}) % 8 < 7 THEN 0 "
                f"ELSE hash(i, {seed}, {salt + 1}) % 10000 + 1 END::BIGINT")

    def ts(salt):
        return f"(hash(i, {seed}, {salt}) % 1000000 * 1000)::BIGINT"

    con.execute(f"""
        COPY (SELECT doc_id, ts, fv,
                     CASE WHEN hash(doc_id, ts, {seed}, 4) % 4 = 0 THEN NULL ELSE fv END
                       AS fv_sparse
              FROM (SELECT doc_id, ts, (hash(doc_id, ts, {seed}) % 97)::DOUBLE AS fv
                    FROM (SELECT {entity(1)} AS doc_id, {ts(3)} AS ts
                          FROM range({rows}) t(i))))
        TO '{out("features")}' (FORMAT PARQUET)""")
    con.execute(f"""
        COPY (SELECT {entity(5)} AS doc_id, {ts(7)} AS ts FROM range({rows // 4}) t(i))
        TO '{out("queries")}' (FORMAT PARQUET)""")
    con.execute(f"""
        COPY (SELECT vec_id,
                     list_transform(range(16), j -> CAST(
                       ((hash({seed}, base, j) % 2000001)::BIGINT - 1000000) / 1e6 +
                       ((hash({seed}, vec_id, j, 7) % 2001)::BIGINT - 1000) / 1e6
                       AS FLOAT)) AS embedding,
                     clustered AND vec_id <> g * 4 AS loser
              FROM (SELECT vec_id, g, clustered,
                           CASE WHEN clustered THEN g * 4 ELSE vec_id END AS base
                    FROM (SELECT i::BIGINT AS vec_id, i // 4 AS g,
                                 hash({seed}, i // 4) % 8 = 0 AS clustered
                          FROM range({vectors}) t(i))))
        TO '{out("vectors")}' (FORMAT PARQUET)""")

    f, q = _pq(d, "features"), _pq(d, "queries")
    asof = con.sql(f"""
        SELECT count(*), count(fv), CAST(coalesce(sum(fv), 0) AS BIGINT),
               coalesce(sum(matched_ts), 0),
               CAST(coalesce(sum(fv * (q.ts % 1009)), 0) AS BIGINT)
        FROM {q} q ASOF LEFT JOIN
             (SELECT doc_id, ts AS matched_ts, fv FROM {f}) ff
          ON q.doc_id = ff.doc_id AND q.ts >= ff.matched_ts""").fetchone()
    sessions = con.sql(f"""
        WITH a AS (
          SELECT doc_id, ts,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY doc_id ORDER BY ts) > {gap}
                      THEN 1 ELSE 0 END AS flag
          FROM {f}),
        b AS (
          SELECT ts, sum(flag) OVER (PARTITION BY doc_id ORDER BY ts
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM a)
        SELECT count(*), sum(sid), max(sid), sum(sid * (ts % 7)) FROM b""").fetchone()
    ffill = con.sql(f"""
        SELECT count(*), count(v), CAST(coalesce(sum(v), 0) AS BIGINT),
               CAST(coalesce(sum(v * (ts % 1009)), 0) AS BIGINT)
        FROM (SELECT ts, last_value(fv_sparse IGNORE NULLS) OVER (
                PARTITION BY doc_id ORDER BY ts
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
              FROM {f})""").fetchone()
    truth = con.sql(f"SELECT count(*) FILTER (loser), count(*) FILTER (NOT loser) "
                    f"FROM {_pq(d, 'vectors')}").fetchone()
    return {k: [int(x) for x in v] for k, v in (("asof", asof), ("sessions", sessions),
                                                ("ffill", ffill), ("truth", truth))}


def _hann():
    return [0.5 - 0.5 * math.cos(2 * math.pi * i / BLOCK) for i in range(BLOCK)]


def _sql_list(xs):
    return "[" + ", ".join(repr(float(x)) for x in xs) + "]"


def extract_summarize(d):
    """Features of the three transforms (Hann-tapered frame energy, 16-bucket
    per-frame token histogram, 9-bin tapered DFT magnitude; values stored as
    float32), then continuous-time mean and median per (doc, transform, bin):
    each frame weighs until the next frame, the last until the end of the
    input (n_tok positions); the median is the first value, ascending, whose
    cumulative weight reaches half the total."""
    con = _connect()
    w = _hann()
    bins = BLOCK // 2 + 1
    cre = [[w[j] * math.cos(2 * math.pi * k * j / BLOCK) for j in range(BLOCK)]
           for k in range(bins)]
    cim = [[-w[j] * math.sin(2 * math.pi * k * j / BLOCK) for j in range(BLOCK)]
           for k in range(bins)]
    con.execute(f"""
        CREATE TEMP TABLE fr AS
        SELECT doc_id, n_tok::BIGINT AS n_tok, f, f * {STEP * RATE_NS} AS ts,
               tokens[f * {STEP} + 1 : f * {STEP} + {BLOCK}] AS s
        FROM (SELECT doc_id, n_tok, tokens,
                     unnest(range((n_tok - {BLOCK}) // {STEP} + 1)) AS f
              FROM {_pq(d, 'seqs')} WHERE n_tok >= {BLOCK})""")
    con.execute(f"""
        CREATE TEMP TABLE wt AS
        SELECT doc_id, f, coalesce(lead(ts) OVER (PARTITION BY doc_id ORDER BY ts),
                                   n_tok * {RATE_NS}) - ts AS w
        FROM fr""")
    con.execute(f"""
        CREATE TEMP TABLE v AS
        SELECT doc_id, f, 'e' AS tid, 0 AS bin,
               CAST(list_sum(list_transform(range({BLOCK}), i ->
                 (s[i + 1]::DOUBLE * c[i + 1]) * (s[i + 1]::DOUBLE * c[i + 1])))
                 / {BLOCK}.0 AS REAL) AS v
        FROM fr, (SELECT {_sql_list(w)}::DOUBLE[] AS c)
        UNION ALL
        SELECT doc_id, f, 'h', b,
               CAST(len(list_filter(s, x -> x % 16 = b)) / {BLOCK}.0 AS REAL)
        FROM fr, (SELECT unnest(range(16)) AS b)
        UNION ALL
        SELECT doc_id, f, 's', k,
               CAST(sqrt(
                 pow(list_sum(list_transform(range({BLOCK}), j -> s[j + 1]::DOUBLE * cr[k + 1][j + 1])), 2) +
                 pow(list_sum(list_transform(range({BLOCK}), j -> s[j + 1]::DOUBLE * ci[k + 1][j + 1])), 2))
                 AS REAL)
        FROM fr, (SELECT unnest(range({bins})) AS k),
             (SELECT {_sql_list_2(cre)}::DOUBLE[][] AS cr, {_sql_list_2(cim)}::DOUBLE[][] AS ci)""")
    rows = con.sql("""
        WITH x AS (SELECT v.*, wt.w FROM v JOIN wt USING (doc_id, f)),
        mean AS (
          SELECT doc_id, tid, bin, sum(v::DOUBLE * w) / sum(w) AS val FROM x GROUP BY ALL),
        vw AS (SELECT doc_id, tid, bin, v, sum(w) AS w FROM x GROUP BY ALL),
        c AS (
          SELECT *, sum(w) OVER (PARTITION BY doc_id, tid, bin ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                    sum(w) OVER (PARTITION BY doc_id, tid, bin) AS tot
          FROM vw),
        median AS (
          SELECT doc_id, tid, bin, min(v)::DOUBLE AS val FROM c
          WHERE cum >= tot / 2.0 GROUP BY ALL)
        SELECT doc_id, summary, list(val ORDER BY bin)
        FROM (SELECT *, 'mean' AS summary FROM mean
              UNION ALL SELECT *, 'median' FROM median)
        GROUP BY doc_id, tid, summary ORDER BY ALL""").fetchall()
    return {"summaries": [[r[0], r[1], [float(x) for x in r[2]]] for r in rows]}


def _sql_list_2(m):
    return "[" + ", ".join(_sql_list(r) for r in m) + "]"


# Per workload: (input subdirectory, reference), the subdirectories of the
# workload's parts in Workloads.scala.
REFERENCES = {"operators_extract": [("operators", operators), ("extract", extract_summarize)]}
