"""Correctness checks for a benchmark run, made outside the timed region.

Gates: each gate's first-pass result is compared with its DuckDB oracle
SQL over the same generated tables, as tools/check.py does.

Interactive: an in-memory model of both stores replays the executed
request prefix; every read answer and the final store contents must equal
the model's.
"""
import collections
import json
import math
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents"]
USER_LAB, POST_LAB = 200, 201


def pack(lab, key):
    return (lab << 48) | key


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return repr(v)


def _table_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _duck():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _connect(data):
    con = _duck()
    for t in TABLES:
        p = Path(data, f"{t}.parquet")
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_gates(out, gates):
    """Returns {gate: error message} for every gate whose result is wrong."""
    oracle = json.loads(Path(out, "oracle.json").read_text())
    bad = {}
    for g in gates:
        con = _connect(oracle[g]["data"])
        res = Path(out, "gates", g)
        if not res.exists():
            bad[g] = "no result"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{res}/*.parquet')")
            gc = [d[0] for d in got.description]
            gr = got.fetchall()
            want = con.execute(oracle[g]["sql"])
            wc = [d[0] for d in want.description]
            (gcs, grs), (wcs, wrs) = _table_key(gc, gr), _table_key(wc, want.fetchall())
            if gcs != wcs:
                bad[g] = f"columns {gcs} != {wcs}"
            elif grs != wrs:
                bad[g] = f"{len(grs)} rows differ from the oracle's {len(wrs)}"
        except Exception as e:  # a broken oracle or result is a failed gate
            bad[g] = str(e)[:200]
    return bad


class Model:
    """Both stores of the interactive workload as plain Python state."""

    def __init__(self, data):
        con = _connect(data)
        q = lambda s: con.execute(s).fetchall()
        self.cust = {k: [n, b] for k, n, b in q(
            "SELECT c_custkey, c_name, c_acctbal FROM customer")}
        self.orders = collections.defaultdict(list)
        for o, c, p in q("SELECT o_orderkey, o_custkey, o_totalprice FROM orders"):
            self.orders[c].append((o, p))
        brand = dict(q("SELECT p_partkey, p_brand FROM part"))
        self.lines = collections.defaultdict(list)
        for o, p, qty in q("SELECT l_orderkey, l_partkey, l_quantity FROM lineitem"):
            self.lines[o].append((brand.get(p), qty))
        adj = collections.defaultdict(set)

        def link(rows, la, lb):
            for a, b in rows:
                adj[(la, a)].add((lb, b))
                adj[(lb, b)].add((la, a))
        link(q("SELECT o_custkey, o_orderkey FROM orders"), "C", "O")
        link(q("SELECT l_orderkey, l_partkey FROM lineitem"), "O", "P")
        link(q("SELECT DISTINCT l_partkey, l_suppkey FROM lineitem"), "P", "S")
        link(q("SELECT c_custkey, c_nationkey FROM customer"), "C", "N")
        link(q("SELECT s_suppkey, s_nationkey FROM supplier"), "S", "N")
        link(q("SELECT n_nationkey, n_regionkey FROM nation"), "N", "R")
        self.tpch_adj = adj
        self.tags = set()
        rp = lambda f: f"read_parquet('{Path(data, f)}.parquet')"
        # FOLLOWS as out- and in-adjacency: {user: {other: followed_at}}
        self.out = collections.defaultdict(dict)
        self.inn = collections.defaultdict(dict)
        for a, b, t in q(f"SELECT src_key, dst_key, followed_at FROM {rp('follows')}"):
            self.out[a][b] = self.inn[b][a] = t
        self.posts = {k: (a, c, t) for k, a, c, t in q(
            f"SELECT post_key, author_key, content, created_at FROM {rp('posts')}")}
        self.likes = {(u, p): t for u, p, t in q(
            f"SELECT user_key, post_key, liked_at FROM {rp('likes')}")}
        self.users = {k for (k,) in q(f"SELECT user_key FROM {rp('users')}")}

    def follows(self):
        return {(a, b): t for a, bs in self.out.items() for b, t in bs.items()}

    def answer(self, op, a, b, t, s):
        """Apply one request; return its expected answer as JSON-shaped data."""
        if op == "point":
            n, bal = self.cust[a]
            return [[n, bal]]
        if op == "hop1":
            top = sorted(self.orders[a], key=lambda r: (-r[1], r[0]))[:5]
            return [[o, p] for o, p in top]
        if op == "hop2":
            agg = collections.defaultdict(lambda: [0, 0.0])
            for o, _ in self.orders[a]:
                for br, qty in self.lines[o]:
                    agg[br][0] += 1
                    agg[br][1] += qty
            return [[br, n, qty] for br, (n, qty) in sorted(agg.items())]
        if op == "shortest":
            d = bfs(self.tpch_adj.__getitem__, ("C", a), ("C", b), 6)
            return [] if d is None else [[d]]
        if op == "set":
            self.cust[a][1] = self.cust[a][1] + 1.0
            return []
        if op == "merge":
            self.tags.add(s)
            return []
        if op == "timeline":
            authors = self.out[a]
            ps = [(k, au, c, ts) for k, (au, c, ts) in self.posts.items() if au in authors]
            ps.sort(key=lambda r: (-r[3], r[0]))
            return [[pack(POST_LAB, k), pack(USER_LAB, au), c, ts] for k, au, c, ts in ps[:20]]
        if op == "suggest":
            mine = self.out[a]
            paths = collections.Counter(c for f in mine for c in self.out[f]
                                        if c != a and c not in mine)
            top = sorted(paths.items(), key=lambda r: (-r[1], r[0]))[:10]
            return [[pack(USER_LAB, c), n] for c, n in top]
        if op == "followers":
            fs = sorted(self.inn[a].items(), key=lambda r: (-r[1], r[0]))[:100]
            return [[pack(USER_LAB, x), ts] for x, ts in fs]
        if op == "degrees":
            d = bfs(lambda v: self.out.get(v, ()), a, b, 6)
            return [] if d is None else [d]
        if op == "follow":
            ok = a in self.users and b in self.users
            if ok and b not in self.out[a]:
                self.out[a][b] = self.inn[b][a] = t
            return ok
        if op == "unfollow":
            self.out[a].pop(b, None)
            self.inn[b].pop(a, None)
            return None
        if op == "post":
            if b in self.posts:
                return False
            self.posts[b] = (a, s, t)
            return True
        if op == "like":
            ok = a in self.users and b in self.posts
            if ok and (a, b) not in self.likes:
                self.likes[(a, b)] = t
            return ok
        raise ValueError(f"unknown request {op}")


def bfs(neighbours, src, dst, max_hops):
    if src == dst:
        return 0
    seen, frontier = {src}, [src]
    for d in range(1, max_hops + 1):
        nxt = []
        for v in frontier:
            for w in neighbours(v):
                if w not in seen:
                    if w == dst:
                        return d
                    seen.add(w)
                    nxt.append(w)
        frontier = nxt
    return None


def _same(x, y):
    if isinstance(x, float) or isinstance(y, float):
        return (isinstance(x, (int, float)) and isinstance(y, (int, float))
                and math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9))
    if isinstance(x, list) and isinstance(y, list):
        return len(x) == len(y) and all(_same(a, b) for a, b in zip(x, y))
    return x == y


def check_interactive(data, out, requests):
    """Replays the executed requests on the model. Returns the indices of
    requests with a wrong answer, and the final-store mismatches."""
    model = Model(data)
    answers = {}
    for line in Path(out, "answers.jsonl").read_text().splitlines():
        rec = json.loads(line)
        answers[rec["i"]] = rec["answer"]
    wrong = []
    last = max(answers, default=-1)
    for i, op, a, b, t, s in requests:
        if i > last:
            break
        want = model.answer(op, a, b, t, s)
        if i in answers and not _same(answers[i], want):
            wrong.append(i)

    con = _duck()
    got = lambda n, cols: con.execute(
        f"SELECT {cols} FROM read_parquet('{Path(out, 'final', n)}/*.parquet')").fetchall()
    # whole rows compared as multisets, so a duplicated edge, post or tag
    # row is a mismatch
    rows = lambda n, cols: collections.Counter(got(n, cols))
    bad = []
    if rows("follows", "src_key, dst_key, followed_at") != collections.Counter(
            (a, b, t) for (a, b), t in model.follows().items()):
        bad.append("FOLLOWS")
    if rows("likes", "user_key, post_key, liked_at") != collections.Counter(
            (u, p, t) for (u, p), t in model.likes.items()):
        bad.append("LIKES")
    if rows("posts", "post_key, author_key, content, created_at") != collections.Counter(
            (k, a, c, t) for k, (a, c, t) in model.posts.items()):
        bad.append("Post/POSTED")
    cust = sorted(got("customers", "c_custkey, c_acctbal"))
    if [k for k, _ in cust] != sorted(model.cust) or not all(
            _same(b, model.cust[k][1]) for k, b in cust):
        bad.append("Customer")
    if rows("tags", "name") != collections.Counter((n,) for n in model.tags):
        bad.append("Tag")
    return wrong, bad
