"""Measures the properties of the pipeline workload's input tables that set
the cost of its queries, side by side for several table directories.

    python3 perfbench/tablestats.py <dir> [<dir> ...]

Each <dir> holds <table>.parquet for the tables of SfData.scala, as a file
or as a directory of part files: the project's test fixtures, or a copy of
the benchmark's generated inputs written with

    java <the --add-opens flags of build.py> -cp "$(python3 perfbench/build.py)" \
        perfbench.SfData <dir> 0.01

Needs the duckdb Python module; the benchmark itself does not.
"""

import sys
from pathlib import Path

import duckdb

PROPERTIES = [
    ("customer rows", "select count(*) from customer"),
    ("orders rows", "select count(*) from orders"),
    ("orders: distinct o_custkey", "select count(distinct o_custkey) from orders"),
    ("orders per customer, p50", "select median(c) from (select count(*) c from orders group by o_custkey)"),
    ("lineitem rows", "select count(*) from lineitem"),
    ("lineitem: distinct l_orderkey", "select count(distinct l_orderkey) from lineitem"),
    ("lineitem: distinct l_partkey", "select count(distinct l_partkey) from lineitem"),
    ("lineitem: distinct l_suppkey", "select count(distinct l_suppkey) from lineitem"),
    ("events rows", "select count(*) from events"),
    ("events: distinct user_id", "select count(distinct user_id) from events"),
    ("events: ts rises with event_id (share)",
     "select avg((ts >= p)::int) from (select ts, lag(ts) over (order by event_id) p from events) where p is not null"),
    ("events: ts span (days)", "select (epoch(max(ts)) - epoch(min(ts))) / 86400 from events"),
    ("events: value p50", "select median(value) from events"),
    ("events: value p90", "select quantile_cont(value, 0.9) from events"),
    ("events: value > 99.5 (share)", "select avg((value > 99.5)::int) from events"),
    ("events: distinct props", "select count(distinct props) from events"),
    ("documents rows", "select count(*) from documents"),
    ("documents: distinct tokens", "select count(distinct w) from (select unnest(string_split(text, ' ')) w from documents)"),
    ("documents: tokens per doc p10",
     "select quantile_cont(len(string_split(text, ' ')), 0.1) from documents"),
    ("documents: tokens per doc p50", "select median(len(string_split(text, ' '))) from documents"),
    ("documents: tokens per doc p90",
     "select quantile_cont(len(string_split(text, ' ')), 0.9) from documents"),
    ("documents: n_chars p50", "select median(n_chars) from documents"),
    ("documents: exact duplicate texts", "select count(*) - count(distinct text) from documents"),
    ("documents: near duplicates (' dup' marker)", "select count(*) from documents where text like '% dup%'"),
    ("documents: equal to another's text + ' dup'",
     "select count(*) from documents a join documents b on a.text = b.text || ' dup'"),
    ("documents: pairs with word 3-gram Jaccard >= 0.8", None),
    ("documents: share in the top language", "select max(c) / sum(c) from (select count(*) c from documents group by lang)"),
    ("documents: distinct source", "select count(distinct source) from documents"),
    ("embeddings rows", "select count(*) from embeddings"),
    ("embeddings: dimensions", "select max(len(embedding)) from embeddings"),
    ("embeddings: vector norm p50",
     "select median(sqrt(list_sum(list_transform(embedding, x -> x * x)))) from embeddings"),
    ("embeddings: component sd", "select stddev(x) from (select unnest(embedding) x from embeddings)"),
]


def near_dup_pairs(con) -> int:
    def shingles(t):
        w = t.split()
        return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}
    docs = [shingles(t) for (t,) in con.execute("select text from documents").fetchall()]
    n = 0
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = docs[i], docs[j]
            if len(a & b) >= 0.8 * len(a | b):
                n += 1
    return n


def measure(d: Path) -> dict:
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        p = d / f"{t}.parquet"
        src = str(p / "*.parquet") if p.is_dir() else str(p)
        con.execute(f"create view {t} as select * from read_parquet('{src}')")
    out = {}
    for name, sql in PROPERTIES:
        out[name] = near_dup_pairs(con) if sql is None else con.execute(sql).fetchone()[0]
    return out


def fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.4g}"
    return str(v)


def main() -> int:
    dirs = [Path(a) for a in sys.argv[1:]]
    if not dirs:
        print(__doc__, file=sys.stderr)
        return 2
    cols = [measure(d) for d in dirs]
    print("| property | " + " | ".join(d.name for d in dirs) + " |")
    print("|---|" + "---|" * len(dirs))
    for name, _ in PROPERTIES:
        print(f"| {name} | " + " | ".join(fmt(c[name]) for c in cols) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
