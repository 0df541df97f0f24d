"""DuckDB oracles for the benchmark's outputs.

`swivel` recomputes the Swivel prep of a text corpus (vocab, row sums at
four decimal places, cell count, shard count) with the same semantics as
the program: whitespace split, frequency-ranked vocab truncated to a
multiple of the shard size, both orientations of every in-window pair,
sums of the fixed-order weight Σ n_d/d.

`relations` runs each key's oracle SQL over the generated tables.
"""
import duckdb
import pyarrow as pa


def _weight(window):
    return " + ".join(f"sum(CASE WHEN dd = {k} THEN 1 ELSE 0 END) / {k}.0"
                      for k in range(1, window + 1))


def swivel(corpus_path, min_count, shard_size, window):
    with open(corpus_path, encoding="utf-8") as f:
        lines = f.read().split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    docs = pa.table({"doc_id": pa.array(range(len(lines)), pa.int64()),
                     "text": lines})
    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    con.register("documents", docs)
    con.execute(f"""
      CREATE TABLE tok AS
        SELECT doc_id,
               CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
               unnest(string_split(text, ' ')) AS token
        FROM documents;
      CREATE TABLE vocab AS
        WITH vcnt AS (
          SELECT token, count(*) AS cnt FROM tok
          GROUP BY token HAVING count(*) >= {min_count}
        ), vrk AS (
          SELECT token, cnt,
                 row_number() OVER (ORDER BY cnt DESC, token) AS rn,
                 count(*) OVER () AS total
          FROM vcnt
        )
        SELECT CAST(rn - 1 AS BIGINT) AS id, token FROM vrk
        WHERE rn <= (total // {shard_size}) * {shard_size};
      CREATE TABLE pboth AS
        WITH tid AS (
          SELECT t.doc_id, t.pos, v.id FROM tok t JOIN vocab v USING (token)
        ), prs AS (
          SELECT a.id AS x, b.id AS y, CAST(b.pos - a.pos AS INT) AS dd
          FROM tid a JOIN tid b
            ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + {window}
        )
        SELECT x AS row_id, y AS col_id, dd FROM prs
        UNION ALL
        SELECT y AS row_id, x AS col_id, dd FROM prs;
    """)
    vocab = [t for (t,) in con.execute("SELECT token FROM vocab ORDER BY id").fetchall()]
    cells = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT row_id, col_id FROM pboth)").fetchone()[0]
    sums = con.execute(f"""
      WITH m AS (SELECT row_id AS id, round({_weight(window)}, 4) AS marginal
                 FROM pboth GROUP BY row_id)
      SELECT coalesce(m.marginal, 0.0) FROM vocab v LEFT JOIN m USING (id)
      ORDER BY v.id""").fetchall()
    con.close()
    return {"vocab": vocab, "sums": [f"{s:.4f}" for (s,) in sums],
            "cells": int(cells), "num_shards": len(vocab) // shard_size}


def relations(table_dir, tables, oracle_sql):
    """{key: (column types, rows as a DataFrame)} of each key's oracle SQL
    over the tables in table_dir."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET enable_progress_bar=false")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    out = {}
    for k, sql in oracle_sql.items():
        rel = con.sql(sql)
        out[k] = (dict(zip(rel.columns, [str(t) for t in rel.types])), rel.fetchdf())
    con.close()
    return out
