"""Seeded inputs for the benchmark, derived from the committed `frozen/`
corpus (a slice of sf0.1: whole dimension tables, half the orders and
events, all 5,000 documents and 2,000 embeddings).

- Dimension tables are copied as they are.
- frozen keeps the orders (and events) with even keys. `orders` holds
  those, and fills the odd keys with a seeded resample with replacement
  of them, so it has sf0.1's 150,000 rows and key range. Each resampled
  order brings its own lineitems, so dates, customers, prices and
  lineitems per order keep frozen's distributions. `events` is filled the
  same way to 100,000.
- Documents and vectors, of which frozen holds too few, follow the model
  `profile()` measures in frozen: a document takes its length, `lang` and
  `source` from a resampled frozen document and draws its words from
  frozen's word frequencies; a share of them (`DUP_SHARE`) are
  near-duplicate copies of an earlier document, with frozen's edit (the
  word "dup" appended, or an exact copy). Vectors are unit-norm isotropic
  Gaussians in 64 dimensions with uniform labels, as frozen's are.

A row's source, words and values come from DuckDB's `hash()` of (row,
column salt, seed) or a `random.Random` seeded with the seed, and DuckDB
writes single-threaded in a fixed order, so the same seed gives
byte-identical parquet files. `checksums()` records their sha256 in the
style of `frozen/frozen.sha256`.

    python3 perfbench/gen.py --profile [SEED]

prints the measured distributions of frozen next to those of the inputs
generated from SEED.
"""
import collections
import hashlib
import itertools
import os
import random
import shutil
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FROZEN = os.path.join(ROOT, "frozen")
DIMS = ["region", "nation", "customer", "supplier", "part"]
# sf0.1's row counts of the resampled fact tables
ORDERS, EVENTS = 150_000, 100_000
# measured on frozen/documents.parquet by `--profile`: 244 of 5,000
# documents are a later copy of another (word-3-gram Jaccard >= 0.5), and
# 8 of its 256 near-duplicate pairs are exact copies; the others differ
# by the appended word "dup"
DUP_SHARE = 244 / 5000
EXACT_SHARE = 8 / 256
DUP_WORD = "dup"


def connect(seed):
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("SET preserve_insertion_order = true")
    # u(i, salt): uniform in [0, 1) from (row, column salt, seed)
    con.execute(f"CREATE MACRO u(i, salt) AS "
                f"(hash(i, salt, {int(seed)}) % 1000000007)::DOUBLE / 1000000007")
    con.execute(f"CREATE MACRO ui(i, salt, n) AS "
                f"(hash(i, salt, {int(seed)}) % n)::BIGINT")
    con.execute(f"CREATE OR REPLACE TEMP TABLE src_o AS SELECT (row_number() OVER "
                f"(ORDER BY o_orderkey) - 1)::BIGINT AS r, * FROM '{FROZEN}/orders.parquet'")
    return con


def frozen(t):
    return f"'{FROZEN}/{t}.parquet'"


def copy(con, select, path):
    con.execute(f"COPY ({select}) TO '{path}' "
                f"(FORMAT PARQUET, ROW_GROUP_SIZE 131072)")


def resampled_orders(con, n, key, since=None):
    """`n` orders drawn with replacement from frozen's orders (those dated
    from `since` on, if given); draw i gets the key `key(i)`, and the
    source key is kept as `src`."""
    where = f"WHERE o_orderdate >= DATE '{since}'" if since else ""
    con.execute(f"CREATE OR REPLACE TEMP TABLE pool AS SELECT (row_number() OVER "
                f"(ORDER BY r) - 1)::BIGINT AS p, * FROM src_o {where}")
    (size,) = con.execute("SELECT count(*) FROM pool").fetchone()
    return f"""
      SELECT ({key('i')})::BIGINT AS o_orderkey, s.o_custkey, s.o_orderstatus,
        s.o_totalprice, s.o_orderdate, s.o_orderpriority, s.o_orderkey AS src
      FROM range({n}) t(i) JOIN pool s ON s.p = ui({key('i')}, 1, {size})
      ORDER BY 1"""


def tpch(con, out, facts=True):
    """The TPC-H tables (and `events`) at sf0.1's row counts: dimensions
    from frozen as they are, orders (with their lineitems) and events
    resampled. Without `facts` it skips lineitem and events."""
    os.makedirs(out, exist_ok=True)
    for t in DIMS:
        copy(con, f"SELECT * FROM {frozen(t)}", f"{out}/{t}.parquet")
    odd = resampled_orders(con, ORDERS // 2, lambda i: f"2 * {i} + 1")
    con.execute(f"CREATE OR REPLACE TEMP TABLE o AS SELECT * EXCLUDE (r), o_orderkey AS src "
                f"FROM src_o UNION ALL ({odd}) ORDER BY 1")
    copy(con, "SELECT * EXCLUDE (src) FROM o", f"{out}/orders.parquet")
    if not facts:
        return
    copy(con, f"""
      SELECT o.o_orderkey AS l_orderkey, l.* EXCLUDE (l_orderkey)
      FROM o JOIN {frozen('lineitem')} l ON l.l_orderkey = o.src
      ORDER BY 1, l.l_linenumber""", f"{out}/lineitem.parquet")
    (n_ev,) = con.execute(f"SELECT count(*) FROM {frozen('events')}").fetchone()
    copy(con, f"""
      SELECT * FROM {frozen('events')} UNION ALL
      SELECT (2 * i + 1)::BIGINT AS event_id, e.* EXCLUDE (event_id, r)
      FROM range({EVENTS - n_ev}) t(i) JOIN (SELECT (row_number() OVER (ORDER BY event_id)
        - 1)::BIGINT AS r, * FROM {frozen('events')}) e ON e.r = ui(i, 2, {n_ev})
      ORDER BY 1""", f"{out}/events.parquet")


def recent_month(con):
    """First day of the last whole month of frozen's orders."""
    (d,) = con.execute(f"SELECT date_trunc('month', max(o_orderdate) - INTERVAL 31 DAY)"
                       f" FROM {frozen('orders')}").fetchone()
    return d.isoformat()


def orders_per_month(con):
    """sf0.1's order rate: the resampled orders over the months frozen's
    order dates span."""
    (m,) = con.execute(f"SELECT datediff('month', min(o_orderdate), max(o_orderdate)) + 1"
                       f" FROM {frozen('orders')}").fetchone()
    return round(ORDERS / m)


def batch_orders(con, path, n, key_offset, since):
    """An append batch: `n` orders resampled from frozen's orders dated
    from `since` on, keyed from `key_offset`."""
    copy(con, f"SELECT * EXCLUDE (src) FROM "
              f"({resampled_orders(con, n, lambda i: f'{i} + {key_offset}', since)})", path)


class Docs:
    """Document generator fitted to frozen's documents (see module doc).
    `make(n, first_id)` returns `n` document rows and records each one's
    family: a planted copy's is that of the doc it copies, any other doc
    is its own. Copies draw from every document made so far, plus `base`
    (id → text)."""

    def __init__(self, con, seed, base=None):
        rows = con.execute(f"SELECT text, lang, source FROM {frozen('documents')} "
                           f"ORDER BY doc_id").fetchall()
        self.shapes = [(len(t.split()), lang, src) for t, lang, src in rows]
        words = collections.Counter(w for t, _, _ in rows for w in t.split() if w != DUP_WORD)
        self.words, self.weights = zip(*sorted(words.items()))
        self.rng = random.Random(f"perfbench-docs-{seed}")
        # ids are contiguous: base ids, then each `make` continues them
        self.text = dict(base or {})
        self.family = {d: d for d in self.text}
        self.lo = min(self.text, default=0)

    def make(self, n, first_id):
        docs = []
        for d in range(first_id, first_id + n):
            nw, lang, src = self.rng.choice(self.shapes)
            if self.text and self.rng.random() < DUP_SHARE:
                of = self.rng.randrange(self.lo, d)
                text = self.text[of]
                if self.rng.random() >= EXACT_SHARE:
                    text += " " + DUP_WORD
                self.family[d] = self.family[of]
            else:
                text = " ".join(self.rng.choices(self.words, self.weights, k=nw))
                self.family[d] = d
            self.text[d] = text
            docs.append((d, text, lang, src, len(text)))
        return docs

    def write(self, con, docs, path, truth=None):
        import pandas as pd
        df = pd.DataFrame(docs, columns=["doc_id", "text", "lang", "source", "n_chars"])
        copy(con, "SELECT * FROM df ORDER BY doc_id", path)
        if truth:
            fam = pd.DataFrame([(d[0], self.family[d[0]]) for d in docs],
                               columns=["doc_id", "family"])
            copy(con, "SELECT * FROM fam ORDER BY doc_id", truth)


def frozen_docs(con):
    """frozen's documents as id → text."""
    return dict(con.execute(f"SELECT doc_id, text FROM {frozen('documents')}").fetchall())


def embeddings(con, path, n, dim=64, labels=10):
    """`n` unit-norm vectors, each coordinate a standard Gaussian (Box-
    Muller over seeded uniforms) before normalising, labels uniform."""
    copy(con, f"""
      WITH g AS (SELECT i, list_transform(range({dim}), j ->
          sqrt(-2 * ln(1 - u(i * {dim} + j, 73))) * cos(2 * pi() * u(i * {dim} + j, 74)))
          AS v FROM range({n}) t(i)),
        h AS (SELECT i, v, sqrt(list_sum(list_transform(v, y -> y * y))) AS nrm FROM g)
      SELECT i::BIGINT AS vec_id, list_transform(v, x -> (x / nrm)::FLOAT) AS embedding,
        ui(i, 71, {labels})::INTEGER AS label
      FROM h ORDER BY 1""", path)


def checksums(root, out_file):
    """sha256 of every generated file under `root`, one `<hex>  <path>`
    line each (sorted), written to `out_file`; returns the digest of
    that listing."""
    lines = []
    for dp, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(dp, f)
            if p == out_file:
                continue
            with open(p, "rb") as fh:
                lines.append(f"{hashlib.sha256(fh.read()).hexdigest()}  "
                             f"{os.path.relpath(p, root)}")
    text = "\n".join(lines) + "\n"
    with open(out_file, "w") as fh:
        fh.write(text)
    return hashlib.sha256(text.encode()).hexdigest()


def near_duplicates(texts):
    """Pairs of documents whose word-3-gram sets have Jaccard >= 0.5 (the
    dedup operators' default), found through a shingle inverted index."""
    sh = {d: {tuple(w[i:i + 3]) for i in range(max(1, len(w) - 2))}
          for d, w in ((d, t.lower().split()) for d, t in texts.items())}
    inv = collections.defaultdict(list)
    for d, s in sh.items():
        for x in s:
            inv[x].append(d)
    shared = collections.Counter(p for ds in inv.values()
                                 for p in itertools.combinations(sorted(ds), 2))
    return [(a, b) for (a, b), c in shared.items()
            if c / (len(sh[a]) + len(sh[b]) - c) >= 0.5]


def profile(con, d):
    """The distributions that drive cost, for the tables under `d`."""
    q = lambda s: con.execute(s).fetchone()
    p = lambda t: f"'{d}/{t}.parquet'"
    out = {}
    out["orders"] = q(f"SELECT count(*) FROM {p('orders')}")[0]
    out["order dates"] = "%s .. %s" % q(f"SELECT min(o_orderdate)::DATE, max(o_orderdate)::DATE"
                                        f" FROM {p('orders')}")
    out["customers with orders"] = "%.3f" % q(
        f"SELECT count(DISTINCT o_custkey) / (SELECT count(*) FROM {p('customer')})"
        f" FROM {p('orders')}")
    if os.path.exists(f"{d}/lineitem.parquet"):
        out["lineitems per order (mean, sd, max)"] = "%.2f %.2f %d" % q(
            f"SELECT avg(n), stddev(n), max(n) FROM (SELECT count(*) n FROM {p('lineitem')}"
            f" GROUP BY l_orderkey)")
    texts = dict(con.execute(f"SELECT doc_id, text FROM {p('documents')}").fetchall())
    lens = [len(t.split()) for t in texts.values()]
    out["documents"] = len(texts)
    out["words per doc (min, mean, max)"] = f"{min(lens)} {sum(lens) / len(lens):.1f} {max(lens)}"
    out["vocabulary"] = len({w for t in texts.values() for w in t.split()})
    pairs = near_duplicates(texts)
    parent = {}

    def root(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x
    for a, b in pairs:
        parent[root(b)] = root(a)
    copies = sum(1 for t in texts if root(t) != t)
    exact = sum(1 for a, b in pairs if texts[a] == texts[b])
    out["near-duplicate copies (share of docs)"] = f"{copies} ({copies / len(texts):.4f})"
    out["exact pairs / near-duplicate pairs"] = f"{exact} / {len(pairs)}"
    out["vector norm (mean), coordinate sd, |label-mean| (max)"] = "%.4f %.4f %.4f" % q(f"""
      WITH e AS (SELECT label, unnest(embedding) x, generate_subscripts(embedding, 1) j,
          vec_id FROM {p('embeddings')}),
        n AS (SELECT sqrt(sum(x * x)) nrm FROM e GROUP BY vec_id),
        m AS (SELECT abs(avg(x)) a FROM e GROUP BY label, j)
      SELECT (SELECT avg(nrm) FROM n), (SELECT stddev(x) FROM e), (SELECT max(a) FROM m)""")
    return out


def main():
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    if sys.argv[1:2] != ["--profile"]:
        sys.exit(__doc__)
    out = os.path.join(ROOT, "perfbench", "work", f"profile-{seed}")
    shutil.rmtree(out, ignore_errors=True)
    try:
        con = connect(seed)
        tpch(con, out)
        docs = Docs(con, seed)
        docs.write(con, docs.make(5000, 0), f"{out}/documents.parquet")
        embeddings(con, f"{out}/embeddings.parquet", 2000)
        a, b = profile(con, FROZEN), profile(con, out)
        for k in a:
            print(f"{k:55s} frozen {str(a[k]):24s} generated {b[k]}")
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
