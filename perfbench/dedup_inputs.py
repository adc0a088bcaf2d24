"""Makes corpus_dedup's inputs for one seed: a `documents(doc_id, text)`
table written as 8 parquet files of equal doc_id ranges, and the digests
of the repo's DuckDB oracle queries (SparkEntry.oracleSql, dumped to
<sql dir>/<query>.sql by build.py) over it, in the benchmark's digest
format: `rows=<n> keys=-1 sum=<s>`, where `sum` is the exact sum over
rows of the first 15 hex digits of md5 of the row's columns (in the
listed order) joined by U+0001. The digests go to meta.properties
beside the table, and a `_DONE` file marks a complete directory.

    python3 perfbench/dedup_inputs.py --dir <out> --seed <n> --docs <n> --sql <sql dir>
"""
import argparse
import hashlib
import os
import shutil

# (meta key, oracle query, its columns in digest order)
QUERIES = (
    ("span", "q_span_dedup", "doc_id,n_tokens,n_removed,digest"),
    ("para", "q_para_dedup", "doc_id,n_paras,n_kept,digest"),
    ("exact", "q_dedup_exact", "digest,keep_doc_id,n_dups"),
)
FILES = 8

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark window order data "
    "column join small line customer query filter group big vector the a index page cache "
    "disk read write block plan stage task node core byte span gram text token shard split "
    "sort limit count").split()
MASK = (1 << 64) - 1


def text(seed, i):
    """80-159 tokens over VOCAB and a shared footer; every 33rd doc (from
    doc 13 on) repeats the doc seven before it, about 3% exact duplicates.
    A 64-bit LCG, so a seed gives the same documents on every machine."""
    src = i - 7 if i % 33 == 13 and i >= 7 else i
    x = ((src ^ (seed * 0x9E3779B97F4A7C15)) * 6364136223846793005 + 1442695040888963407) & MASK

    def nxt():
        nonlocal x
        x = (x * 6364136223846793005 + 1442695040888963407) & MASK
        return x >> 33

    n = 80 + nxt() % 80
    words = [VOCAB[nxt() % len(VOCAB)] for _ in range(n)]
    return " ".join(words) + " subscribe to the newsletter for updates shared footer"


def digest(con, sql, cols):
    rows = 0
    total = 0
    for r in con.execute("SELECT %s FROM (%s)" % (cols, sql)).fetchall():
        s = "\x01".join(str(v) for v in r)
        total += int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
        rows += 1
    return "rows=%d keys=-1 sum=%d" % (rows, total)


def main():
    import duckdb
    import pandas as pd

    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--docs", required=True, type=int)
    ap.add_argument("--sql", required=True)
    a = ap.parse_args()

    shutil.rmtree(a.dir, ignore_errors=True)
    table = os.path.join(a.dir, "documents.parquet")
    os.makedirs(table)
    con = duckdb.connect()
    con.execute("SET threads TO %d" % (os.cpu_count() or 1))
    for k in range(FILES):
        lo, hi = a.docs * k // FILES, a.docs * (k + 1) // FILES
        part = pd.DataFrame({"doc_id": pd.Series(range(lo, hi), dtype="int64"),
                             "text": [text(a.seed, i) for i in range(lo, hi)]})
        con.register("part", part)
        con.execute("COPY (SELECT doc_id, text FROM part ORDER BY doc_id) TO '%s' (FORMAT PARQUET)"
                    % os.path.join(table, "part-%05d.parquet" % k).replace("'", "''"))
        con.unregister("part")
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
                % os.path.join(table, "*.parquet").replace("'", "''"))
    meta = ["docs=%d" % a.docs]
    for key, query, cols in QUERIES:
        with open(os.path.join(a.sql, query + ".sql")) as f:
            meta.append("%s=%s" % (key, digest(con, f.read(), cols)))
    with open(os.path.join(a.dir, "meta.properties"), "w") as f:
        f.write("\n".join(meta) + "\n")
    open(os.path.join(a.dir, "_DONE"), "w").close()


if __name__ == "__main__":
    main()
