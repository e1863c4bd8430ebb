"""Correctness checks for the product-loop benchmark.

Every expected value here is computed apart from the engine: the
hashing-TF embedder, the exact top-k, the rerank and hybrid blends, the
mutation tallies and chunk ids are re-derived in Python from the
generated inputs, and the curate rows are compared with DuckDB running
the registry's oracle SQL. Each check returns a list of failure strings
(empty when the check passes) plus the figures it measured.
"""
import hashlib
import math
import os
import re

import numpy as np
import pyarrow.dataset as ds

DIM = 64
K = 10
TOL = 2e-6          # scores are rounded to 6 decimals by the engine
DELETE_EVERY = 3
RECALL_FLOOR = 0.7
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def md5hex(s):
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def embed(text, dim=DIM):
    """md5 → first 15 hex digits → mod dim, term counts, L2-normalized."""
    v = np.zeros(dim)
    for tok in _WS.split(text.lower()):
        if tok:
            v[int(md5hex(tok)[:15], 16) % dim] += 1.0
    n = np.linalg.norm(v)
    return v / n if n else v


def norm_ws(s):
    return " ".join(s.split())


def read_table(path):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


class Store:
    """A set of chunks as the checker sees it: ids, contents and the
    embeddings of those contents."""

    def __init__(self, ids, content, E):
        self.ids, self.content, self.E = list(ids), list(content), E
        self.pos = {i: n for n, i in enumerate(self.ids)}

    @classmethod
    def read(cls, path):
        t = read_table(os.path.join(path, "chunks")).to_pydict()
        s = cls(t["id"], t["content"],
                np.array([np.asarray(e, dtype=np.float64) for e in t["embedding"]]))
        s.rows = t
        return s

    def without(self, cid):
        keep = [n for n, i in enumerate(self.ids) if i != cid]
        return Store([self.ids[n] for n in keep], [self.content[n] for n in keep],
                     self.E[keep])

    def plus(self, cid, content):
        return Store(self.ids + [cid], self.content + [content],
                     np.vstack([self.E, embed(content)[None, :]]))

    def scores(self, q):
        return np.round(self.E @ embed(q), 6)

    def exact(self, q, k):
        s = self.scores(q)
        order = sorted(range(len(self.ids)), key=lambda n: (-s[n], self.ids[n]))
        return [(self.ids[n], float(s[n])) for n in order[:k]], s


def matches(content, words):
    low = content.lower()
    return sum(1 for w in words if w in low)


def same_ranking(got, want, score_of, what):
    """`got` equals `want` position by position; a different id is
    allowed only where the two are tied within TOL."""
    errs = []
    if len(got) != len(want):
        return ["%s: %d rows, expected %d" % (what, len(got), len(want))]
    for j, ((gi, gs), (wi, ws)) in enumerate(zip(got, want)):
        if abs(gs - ws) > TOL:
            errs.append("%s: rank %d score %.6f, expected %.6f" % (what, j, gs, ws))
        elif gi != wi and abs(score_of(gi) - ws) > TOL:
            errs.append("%s: rank %d id %s, expected %s" % (what, j, gi, wi))
    return errs


def ann_hits(store, q, hits, what):
    """Every ANN score is the exact cosine of its id; recall@10 counts a
    hit when its exact score reaches the exact 10th score (ties)."""
    exact, s = store.exact(q, K)
    errs = []
    for i, sc in hits:
        if i not in store.pos:
            errs.append("%s: unknown id %s" % (what, i))
        elif abs(s[store.pos[i]] - sc) > TOL:
            errs.append("%s: id %s score %.6f, exact %.6f" % (what, i, sc, s[store.pos[i]]))
    kth = exact[-1][1]
    good = sum(1 for i, _ in hits if i in store.pos and s[store.pos[i]] >= kth - TOL)
    return errs, good / float(K)


def check_ingest(path, plan, tree):
    """The store as indexed from the tree: one source row per file with
    the file's bytes; chunks that occur in their file and cover its
    lines; embeddings equal to the hashing-TF embedder's."""
    errs = []
    store = Store.read(path)
    src = read_table(os.path.join(path, "sources")).to_pydict()
    files = {os.path.basename(f): f for f in plan["files"]}
    if sorted(src["title"]) != sorted(files):
        errs.append("sources: %d rows for %d files" % (len(src["title"]), len(files)))
    for title, content in zip(src["title"], src["originalContent"]):
        if title not in files:
            continue
        with open(os.path.join(tree, files[title]), "rb") as f:
            if f.read() != content.encode("utf-8"):
                errs.append("source %s differs from its file" % title)
    by_file = {}
    for n, meta in enumerate(store.rows["metadata"]):
        by_file.setdefault(meta["filePath"], []).append(
            (store.rows["chunkIndex"][n], store.content[n]))
    if set(by_file) != set(files):
        errs.append("chunks cover %d of %d files" % (len(set(by_file) & set(files)), len(files)))
    for name, chunks in by_file.items():
        if name not in files:
            continue
        with open(os.path.join(tree, files[name]), encoding="utf-8") as f:
            text = f.read()
        errs += _coverage(name, text, sorted(chunks))
    errs += _embeddings(store)
    return errs, store


def _embeddings(store):
    return ["embedding of chunk %s differs" % store.ids[n]
            for n, content in enumerate(store.content)
            if np.max(np.abs(store.E[n] - embed(content))) > 1e-6]


def _coverage(name, text, chunks):
    """Each chunk occurs in its file (whitespace-normalized) and the
    chunks together cover every non-blank line."""
    errs = []
    flat = norm_ws(text)
    covered = np.zeros(len(flat) + 1, dtype=bool)
    start = 0
    for idx, content in chunks:
        c = norm_ws(content)
        at = flat.find(c, start)
        if at < 0:
            at = flat.find(c)
        if at < 0:
            errs.append("%s chunk %d does not occur in the file" % (name, idx))
            continue
        covered[at:at + len(c)] = True
        # the next chunk starts after this one: a repeated section must
        # map to its own occurrence
        start = at + 1
    pos = 0
    for line in text.splitlines():
        ln = norm_ws(line)
        if not ln:
            continue
        at = flat.find(ln, pos)
        if at < 0:
            errs.append("%s: line not found in normalized text" % name)
            continue
        if not covered[at:at + len(ln)].all():
            errs.append("%s: line not covered by its chunks: %r" % (name, ln[:40]))
        pos = at + len(ln)
    return errs


def _reads(state, q, r, errs, recalls):
    """The three reads of one round against the store as it stood; a
    read that failed (counted in `failed`) has no answer (None)."""
    words = [w for w in q.lower().split() if w]
    if r["search"] is not None:
        top, _ = state.exact(q, K)
        want = sorted(((i, round(s + 0.1 * matches(state.content[state.pos[i]], words), 6))
                       for i, s in top), key=lambda h: (-h[1], h[0]))
        errs += _blend([tuple(h) for h in r["search"]], want,
                       "round %d search %r" % (r["round"], q))
    if r["hybrid"] is not None:
        top, _ = state.exact(q, 3 * K)
        want = sorted(((i, round(s * 0.7 + matches(state.content[state.pos[i]], words)
                                 / len(words) * 0.3, 6)) for i, s in top),
                      key=lambda h: (-h[1], h[0]))[:K]
        errs += _blend([tuple(h) for h in r["hybrid"]], want,
                       "round %d hybrid %r" % (r["round"], q))
    if r["ann"] is not None:
        e, rec = ann_hits(state, q, [tuple(h) for h in r["ann"]],
                          "round %d ann %r" % (r["round"], q))
        errs += e
        recalls.append(rec)


def check_loop(c, plan, data_dir):
    errs, state = check_ingest(c["indexed"], plan, os.path.join(data_dir, "tree"))
    originals = set(state.ids)
    recalls = []
    fa = c["first_ann"]
    e, rec = ann_hits(state, fa["query"], [tuple(h) for h in fa["hits"]], "first ann")
    errs += e
    recalls.append(rec)
    deleted = set()
    for n, r in enumerate(c["rounds"]):
        if r["round"] != n:
            errs.append("round %d recorded as %d" % (n, r["round"]))
        _reads(state, r["query"], r, errs, recalls)
        kind = "delete" if n % DELETE_EVERY == DELETE_EVERY - 1 else "append"
        if r["kind"] != kind:
            errs.append("round %d wrote a %s, expected a %s" % (n, r["kind"], kind))
        reads = [(what, [tuple(h) for h in r[what]]) for what in ("fresh", "repeat")
                 if r[what] is not None]
        if kind == "append":
            if r["text"] != plan["appends"][n]:
                errs.append("round %d appended another text" % n)
            cid = md5hex(md5hex("text:append-%d" % n) + ":0")
            if r["written"]:
                state = state.plus(cid, r["text"])
            for what, hits in reads if r["written"] else ():
                if not hits or hits[0][0] != cid or abs(hits[0][1] - 1.0) > TOL:
                    errs.append("round %d %s read: top hit %s, expected %s at 1.0"
                                % (n, what, hits[:1], cid))
        else:
            if r["target"] not in originals or r["target"] in deleted:
                errs.append("round %d deleted %s, not a live indexed chunk" % (n, r["target"]))
            if r["written"]:
                deleted.add(r["target"])
                state = state.without(r["target"])
        for what, hits in reads:
            back = deleted & {i for i, _ in hits}
            if back:
                errs.append("round %d %s read returned deleted %s" % (n, what, sorted(back)))
            e, _ = ann_hits(state, r["text"], hits, "round %d %s" % (n, what))
            errs += e
        if r["count"] != len(state.ids):
            errs.append("round %d: %d visible chunks, expected %d" % (n, r["count"], len(state.ids)))
    final = Store.read(c["store"])
    if sorted(final.ids) != sorted(state.ids):
        errs.append("final store holds %d chunks, expected %d" % (len(final.ids), len(state.ids)))
    else:
        for i, content in zip(final.ids, final.content):
            if norm_ws(content) != norm_ws(state.content[state.pos[i]]):
                errs.append("final store: chunk %s holds other content" % i)
        errs += _embeddings(final)
    for x in c["exact"]:
        want, s = state.exact(x["query"], K)
        errs += same_ranking([tuple(h) for h in x["hits"]], want,
                             lambda i: s[state.pos[i]] if i in state.pos else -9.0,
                             "search(rerank=false) %r" % x["query"])
    recall = _mean(recalls)
    if recall < RECALL_FLOOR:
        errs.append("ann recall@10 %.3f below the floor %.2f" % (recall, RECALL_FLOOR))
    return errs[:20], {"chunks": len(originals), "rounds": len(c["rounds"]),
                       "ann_recall10": recall}


def _blend(got, want, what):
    """A blended ranking: the same scores in order; ids may differ only
    where the blended scores tie."""
    wmap = dict(want)
    return same_ranking(got, want, lambda i: wmap.get(i, -9.0), what)


def check_curate(c):
    import duckdb
    import pandas as pd
    errs = []
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, c["tables"], t))
    for name, sql in sorted(c["oracles"].items()):
        want = _canon(con.execute(sql).fetchdf())
        for out in c["out"]:
            errs += _same_rows(name, _canon(pd.read_parquet(os.path.join(out, name))), want)
        if name == "q_pipeline_full":
            m = pd.read_parquet(os.path.join(c["out"][-1], name)).sort_values("stage")
            n_docs = list(m["n_docs"])
            if any(b > a for a, b in zip(n_docs, n_docs[1:])):
                errs.append("curation attrition grows: %s" % n_docs)
    return errs[:20], {}


def _same_rows(name, got, want):
    """The row compare of the registry's oracle check: columns by name,
    row count, then every value exactly (rows in a canonical order)."""
    if list(got.columns) != list(want.columns):
        return ["%s: columns %s, oracle %s" % (name, list(got.columns), list(want.columns))]
    if len(got) != len(want):
        return ["%s: %d rows, oracle %d" % (name, len(got), len(want))]
    if len(got) == 0:
        return ["%s: no rows" % name]
    errs = []
    for col in got.columns:
        bad = [j for j, (a, b) in enumerate(zip(got[col], want[col])) if not _eq(a, b)]
        if bad:
            errs.append("%s.%s: %d values differ (first row %d)" % (name, col, len(bad), bad[0]))
    return errs


def _canon(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for col in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[col]):
            df[col] = pd.to_datetime(df[col]).dt.tz_localize(None)
    key = df.apply(lambda r: repr([_plain(v) for v in r]), axis=1)
    return df.iloc[sorted(range(len(df)), key=lambda j: key.iloc[j])].reset_index(drop=True)


def _plain(v):
    if isinstance(v, np.ndarray):
        return [_plain(x) for x in v]
    if isinstance(v, (np.floating, np.integer)):
        return v.item()
    return v


def _eq(a, b):
    a, b = _plain(a), _plain(b)
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    try:
        if a is None or b is None or (isinstance(b, float) and math.isnan(b)):
            return (a is None or (isinstance(a, float) and math.isnan(a))) and \
                (b is None or (isinstance(b, float) and math.isnan(b)))
    except TypeError:
        pass
    return a == b


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def check(workload, result, plan, data_dir):
    if workload == "loop":
        return check_loop(result["check"], plan, data_dir)
    return check_curate(result["check"])
