"""Profile of a query-workload table directory, side by side for several.

    python3 perfbench/profile_tables.py DIR [DIR ...]

Prints one row per measure and one column per directory: row counts,
the document corpus's text length, token and duplicate distributions,
and the shape of the event and embedding tables. The query workload's
generator (`gen_tables.py`) takes its parameters from this profile of
the repo's sf0.01 test data.
"""
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

MEASURES = [
    *[(f"rows {t}", f"SELECT count(*) FROM {t}") for t in TABLES],
    ("docs words/doc min", "SELECT min(len(string_split(text, ' '))) FROM documents"),
    ("docs words/doc mean", "SELECT avg(len(string_split(text, ' '))) FROM documents"),
    ("docs words/doc max", "SELECT max(len(string_split(text, ' '))) FROM documents"),
    ("docs chars p10", "SELECT quantile_cont(len(text), 0.1) FROM documents"),
    ("docs chars p50", "SELECT quantile_cont(len(text), 0.5) FROM documents"),
    ("docs chars p90", "SELECT quantile_cont(len(text), 0.9) FROM documents"),
    ("docs vocabulary", "SELECT count(DISTINCT w) FROM (SELECT unnest("
     "string_split(text, ' ')) w FROM documents)"),
    ("docs top word share", "SELECT max(c) / sum(c) FROM (SELECT count(*) c "
     "FROM (SELECT unnest(string_split(text, ' ')) w FROM documents) GROUP BY w)"),
    ("docs near-dup share", "SELECT avg(CASE WHEN text LIKE '% dup' THEN 1 "
     "ELSE 0 END) FROM documents"),
    ("docs exact-dup share", "SELECT 1 - count(DISTINCT text) / count(*) FROM documents"),
    ("docs en share", "SELECT avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) FROM documents"),
    ("docs sources", "SELECT count(DISTINCT source) FROM documents"),
    ("events users", "SELECT count(DISTINCT user_id) FROM events"),
    ("events types", "SELECT count(DISTINCT event_type) FROM events"),
    ("events value mean", "SELECT avg(value) FROM events"),
    ("events days", "SELECT date_diff('day', min(ts), max(ts)) FROM events"),
    ("lineitem orders", "SELECT count(DISTINCT l_orderkey) FROM lineitem"),
    ("part names", "SELECT count(DISTINCT p_name) FROM part"),
    ("embeddings dim", "SELECT max(len(embedding)) FROM embeddings"),
    ("embeddings labels", "SELECT count(DISTINCT label) FROM embeddings"),
    ("embeddings cos same label", "SELECT avg(list_cosine_similarity("
     "a.embedding, b.embedding)) FROM embeddings a JOIN embeddings b ON "
     "a.label = b.label AND a.vec_id < b.vec_id"),
    ("embeddings cos other label", "SELECT avg(list_cosine_similarity("
     "a.embedding, b.embedding)) FROM embeddings a JOIN embeddings b ON "
     "a.label <> b.label AND a.vec_id < b.vec_id"),
]


def profile(tables_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(tables_dir, t)}.parquet')")
    out = {name: float(con.execute(sql).fetchone()[0]) for name, sql in MEASURES}
    con.close()
    return out


def main(dirs):
    cols = [profile(d) for d in dirs]
    w = max(len(n) for n, _ in MEASURES)
    print(f"{'measure':<{w}}  " + "  ".join(f"{os.path.basename(d.rstrip('/')):>12}"
                                        for d in dirs))
    for name, _ in MEASURES:
        print(f"{name:<{w}}  " + "  ".join(f"{c[name]:>12.4g}" for c in cols))


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
