"""Figures that describe a table directory's value distributions.

gen.py's constants are set from these figures as measured on the
program's reference test data; running this on the reference tables and
on a generated seed shows how close the two are (README.md, "Inputs").

Usage: python3 profile_tables.py <data_dir> [<data_dir> ...]
"""
import sys

import duckdb

FIGURES = [
    ("rows lineitem/orders/customer/part/supplier",
     "SELECT (SELECT count(*) FROM lineitem) || '/' || "
     "(SELECT count(*) FROM orders) || '/' || (SELECT count(*) FROM customer)"
     " || '/' || (SELECT count(*) FROM part) || '/' || "
     "(SELECT count(*) FROM supplier)"),
    ("rows events/documents/embeddings",
     "SELECT (SELECT count(*) FROM events) || '/' || "
     "(SELECT count(*) FROM documents) || '/' || "
     "(SELECT count(*) FROM embeddings)"),
    ("lineitem per order: mean/max",
     "SELECT round(avg(c), 2) || '/' || max(c) FROM "
     "(SELECT count(*) c FROM lineitem GROUP BY l_orderkey)"),
    ("orders per customer: mean/max",
     "SELECT round(avg(c), 2) || '/' || max(c) FROM "
     "(SELECT count(*) c FROM orders GROUP BY o_custkey)"),
    ("distinct order dates", "SELECT count(DISTINCT o_orderdate) FROM orders"),
    ("doc vocabulary (distinct tokens)",
     "SELECT count(DISTINCT t) FROM (SELECT unnest(string_split(text, ' ')) t"
     " FROM documents)"),
    ("tokens per doc: min/median/max",
     "SELECT min(n) || '/' || median(n) || '/' || max(n) FROM "
     "(SELECT len(string_split(text, ' ')) n FROM documents)"),
    ("docs equal to another doc plus one token",
     "SELECT count(DISTINCT a.doc_id) FROM documents a JOIN documents b "
     "ON a.doc_id <> b.doc_id AND starts_with(a.text, b.text || ' ') AND "
     "len(string_split(a.text, ' ')) = len(string_split(b.text, ' ')) + 1"),
    ("token frequency: coefficient of variation",
     "SELECT round(stddev_pop(c) / avg(c), 3) FROM (SELECT t, count(*) c FROM"
     " (SELECT unnest(string_split(text, ' ')) t FROM documents) "
     "WHERE t <> 'dup' GROUP BY t)"),
    ("doc languages",
     "SELECT string_agg(lang || '=' || c, ' ' ORDER BY lang) FROM "
     "(SELECT lang, count(*) c FROM documents GROUP BY lang)"),
    ("doc sources", "SELECT count(DISTINCT source) FROM documents"),
    ("events: users / days spanned",
     "SELECT count(DISTINCT user_id) || ' / ' || "
     "round(date_diff('second', min(ts), max(ts)) / 86400.0, 1) FROM events"),
    ("events per user: min/mean/max",
     "SELECT min(c) || '/' || round(avg(c), 1) || '/' || max(c) FROM "
     "(SELECT count(*) c FROM events GROUP BY user_id)"),
    ("event gap: mean s / coefficient of variation",
     "SELECT round(avg(g), 1) || ' / ' || round(stddev_pop(g) / avg(g), 3) "
     "FROM (SELECT epoch_us(ts) / 1e6 - lag(epoch_us(ts) / 1e6) OVER "
     "(ORDER BY ts) g FROM events) WHERE g IS NOT NULL"),
    ("event value: min/median/mean",
     "SELECT min(value) || '/' || median(value) || '/' || round(avg(value), 1)"
     " FROM events"),
    ("event types / distinct props",
     "SELECT count(DISTINCT event_type) || ' / ' || count(DISTINCT props) "
     "FROM events"),
    ("embedding dim / norm min..max / labels",
     "SELECT max(len(embedding)) || ' / ' || "
     "round(min(sqrt(list_sum(list_transform(embedding, x -> x * x)))), 4) ||"
     " '..' || round(max(sqrt(list_sum(list_transform(embedding, "
     "x -> x * x)))), 4) || ' / ' || count(DISTINCT label) FROM embeddings"),
]


def profile(data_dir):
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "part", "supplier", "events",
              "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return [str(con.execute(sql).fetchone()[0]) for _, sql in FIGURES]


def main(dirs):
    cols = [profile(d) for d in dirs]
    width = max(len(n) for n, _ in FIGURES)
    print(" | ".join([f"{'figure':<{width}}"] + dirs))
    for i, (name, _) in enumerate(FIGURES):
        print(" | ".join([f"{name:<{width}}"] + [c[i] for c in cols]))


if __name__ == "__main__":
    main(sys.argv[1:])
