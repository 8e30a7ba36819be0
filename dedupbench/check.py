"""Independent correctness checks for a dedup pipeline output root.

The checker shares no code with the program: it recomputes doc ids
(Spark's ``xxhash64(url)``, seed 42), word-5-gram Jaccard and shared runs
itself, from the generated input and the truth side table.

Checks on every output root:
  ids         assignments cover each input id exactly once
  min_id      each component id is the minimum id of its members
  components  assignments equal the connected components of the committed
              edge stages (verified, simhash_edges, suffix_edges)
  exact       byte-identical texts (>= min_length tokens) share a component
  recall      planted pairs with Jaccard >= 0.85 are co-assigned (>= 0.99)
  verified    a seeded sample of `verified` edges meets inter*10 >= 7*union
  suffix      (substring_heavy) sampled `suffix_edges` share a >= 200-char run,
              and planted shared-run pairs are co-assigned (>= 0.99)
  kept        one kept row per component, payload byte-identical to input
and, across runs, that two assignment tables are equal (resume, tracing).

Usage:
  python3 check.py --pages <pages dir> --truth <truth.parquet> \\
      --workload <name> --root <output root> [--root ...] \\
      [--same <assignments dir> <assignments dir>] [--seed N]
Prints one JSON object; exits 1 if any check fails.
"""
import argparse
import glob
import json
import random
import re
import sys

import duckdb
import pyarrow as pa

NGRAM = 5
MIN_LENGTH = 5
RECALL_MIN = 0.99
PLANTED_J = 0.85
SUFFIX_RUN = 200
SAMPLE_VERIFIED = 1000
SAMPLE_SUFFIX = 100

_M = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc, lane):
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64(data, seed=42):
    """XXH64 of `data` as a signed 64-bit int (Spark's xxhash64)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i + 8 * k:i + 8 * k + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for k in range(4):
            h = ((h ^ _round(0, v[k])) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def tokens(text):
    return re.split(r"\W", text.lower())


def shingles(text):
    t = tokens(text)
    if len(t) < MIN_LENGTH:
        return frozenset()
    return frozenset(" ".join(t[i:i + NGRAM]) for i in range(len(t) - NGRAM + 1))


def inter_union(a, b):
    i = len(a & b)
    return i, len(a) + len(b) - i


def shares_run(a, b, length=SUFFIX_RUN):
    """True if `a` and `b` share an exact substring of `length` chars."""
    if len(a) < length or len(b) < length:
        return False
    windows = {b[i:i + length] for i in range(len(b) - length + 1)}
    return any(a[i:i + length] in windows for i in range(len(a) - length + 1))


def parquet(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


class Checker:
    """Truth derived once per input; `check_root` runs per output root."""

    def __init__(self, pages, truth, workload, seed=0):
        self.workload, self.seed = workload, seed
        self.pages = pages
        self.con = duckdb.connect()
        rows = self.con.sql(f"SELECT url, text FROM {parquet(pages)}").fetchall()
        self.id_of = {u: xxh64(u.encode()) for u, _ in rows}
        self.text_of = {self.id_of[u]: t for u, t in rows}
        self.n = len(rows)
        self.con.register("ids", pa.table({
            "url": list(self.id_of.keys()),
            "id": pa.array(list(self.id_of.values()), pa.int64())}))
        # byte-identical groups the pipeline is asked to merge
        groups = self.con.sql(
            f"SELECT list(url) FROM {parquet(pages)} WHERE text IS NOT NULL "
            "GROUP BY text HAVING count(*) > 1").fetchall()
        self.exact_groups = [g for (g,) in groups
                             if len(tokens(self.text_of[self.id_of[g[0]]])) >= MIN_LENGTH]
        truth_rows = self.con.sql(
            f"SELECT url, source_url, shared_run FROM read_parquet('{truth}')").fetchall()
        cache = {}

        def sh(u):
            if u not in cache:
                cache[u] = shingles(self.text_of[self.id_of[u]] or "")
            return cache[u]
        self.planted = []
        for u, src, _ in truth_rows:
            if src is not None:
                i, un = inter_union(sh(u), sh(src))
                if un and i >= PLANTED_J * un:
                    self.planted.append((self.id_of[u], self.id_of[src]))
        self.shared_pairs = [(self.id_of[u], self.id_of[s])
                             for u, _, s in truth_rows if s is not None]

    def _components(self, assignments):
        return dict(self.con.sql(f"SELECT id, component FROM {parquet(assignments)}").fetchall())

    def _component_mismatches(self, root, comp):
        """Union-find over the committed edges; counts ids whose assignment
        differs from their component's minimum id."""
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x
        for stage in ("verified", "simhash_edges", "suffix_edges"):
            data = f"{root}/{stage}/data"
            if not glob.glob(f"{data}/*.parquet"):
                continue  # stage off for this workload's flags
            for a, b in self.con.sql(f"SELECT src, dst FROM {parquet(data)}").fetchall():
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        return sum(1 for i, c in comp.items() if find(i) != c)

    def check_root(self, root):
        fails = []
        a = parquet(f"{root}/assignments/data")
        n, nd = self.con.sql(f"SELECT count(*), count(DISTINCT id) FROM {a}").fetchone()
        matched = self.con.sql(
            f"SELECT count(DISTINCT a.id) FROM {a} a JOIN ids USING (id)").fetchone()[0]
        if not (n == nd == matched == self.n):
            fails.append(f"ids: {n} rows, {nd} distinct, {matched} match the {self.n} input ids")
        bad_min = self.con.sql(
            f"SELECT count(*) FROM (SELECT component, min(id) m FROM {a} GROUP BY component) "
            "WHERE m <> component").fetchone()[0]
        if bad_min:
            fails.append(f"min_id: {bad_min} components not labelled by their minimum id")
        comp = self._components(f"{root}/assignments/data")
        wrong = self._component_mismatches(root, comp)
        if wrong:
            fails.append(f"components: {wrong} ids not labelled by the min id of their "
                         "connected component in the edge stages")
        split = sum(1 for g in self.exact_groups
                    if len({comp.get(self.id_of[u]) for u in g}) != 1)
        if split:
            fails.append(f"exact: {split} of {len(self.exact_groups)} identical-text groups split")
        if self.planted:
            hit = sum(1 for x, y in self.planted if comp.get(x) == comp.get(y))
            if hit < RECALL_MIN * len(self.planted):
                fails.append(f"recall: {hit}/{len(self.planted)} planted pairs co-assigned")
        rng = random.Random(self.seed)
        edges = self.con.sql(f"SELECT src, dst FROM {parquet(root + '/verified/data')} "
                             "ORDER BY src, dst").fetchall()
        for s, d in rng.sample(edges, min(SAMPLE_VERIFIED, len(edges))):
            i, un = inter_union(shingles(self.text_of[s]), shingles(self.text_of[d]))
            if i * 10 < 7 * un:
                fails.append(f"verified: edge ({s}, {d}) has {i}/{un} < 0.7")
                break
        if self.workload == "substring_heavy":
            sa = self.con.sql(f"SELECT src, dst FROM {parquet(root + '/suffix_edges/data')} "
                              "ORDER BY src, dst").fetchall()
            if not sa:
                fails.append("suffix: no suffix edges")
            for s, d in rng.sample(sa, min(SAMPLE_SUFFIX, len(sa))):
                if not shares_run(self.text_of[s], self.text_of[d]):
                    fails.append(f"suffix: edge ({s}, {d}) shares no {SUFFIX_RUN}-char run")
                    break
            hit = sum(1 for x, y in self.shared_pairs if comp.get(x) == comp.get(y))
            if hit < RECALL_MIN * len(self.shared_pairs):
                fails.append(f"suffix: {hit}/{len(self.shared_pairs)} shared-run pairs co-assigned")
        kept = parquet(f"{root}/kept/data")
        nk, nkd = self.con.sql(f"SELECT count(*), count(DISTINCT id) FROM {kept}").fetchone()
        ncomp = len(set(comp.values()))
        not_comp = self.con.sql(
            f"SELECT count(*) FROM {kept} WHERE id NOT IN (SELECT DISTINCT component FROM {a})"
        ).fetchone()[0]
        if not (nk == nkd == ncomp) or not_comp:
            fails.append(f"kept: {nk} rows ({nkd} ids, {not_comp} not a component) "
                         f"for {ncomp} components")
        differ = self.con.sql(
            f"SELECT count(*) FROM {kept} k LEFT JOIN {parquet(self.pages)} p USING (url) "
            "WHERE p.url IS NULL OR k.text IS DISTINCT FROM p.text "
            "OR k.html IS DISTINCT FROM p.html OR k.lang IS DISTINCT FROM p.lang "
            "OR epoch_us(k.warc_ts) IS DISTINCT FROM epoch_us(p.warc_ts)").fetchone()[0]
        if differ:
            fails.append(f"kept: {differ} rows differ from the input row with their url")
        return fails

    def same(self, x, y):
        """Fails unless assignment tables `x` and `y` hold the same rows."""
        q = (f"SELECT (SELECT count(*) FROM (SELECT id, component FROM {parquet(x)} EXCEPT ALL "
             f"SELECT id, component FROM {parquet(y)})) + (SELECT count(*) FROM (SELECT id, "
             f"component FROM {parquet(y)} EXCEPT ALL SELECT id, component FROM {parquet(x)}))")
        diff = self.con.sql(q).fetchone()[0]
        return [f"same: {diff} assignment rows differ between {x} and {y}"] if diff else []


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--pages", required=True)
    ap.add_argument("--truth", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--root", action="append", default=[])
    ap.add_argument("--same", nargs=2, action="append", default=[])
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args(argv)
    c = Checker(a.pages, a.truth, a.workload, a.seed)
    out = {r: c.check_root(r) for r in a.root}
    for x, y in a.same:
        out[f"{x} == {y}"] = c.same(x, y)
    print(json.dumps({"planted_pairs": len(c.planted), "results": out}, indent=1))
    return 1 if any(out.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
