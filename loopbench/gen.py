"""Seeded input generator for the product-loop benchmark.

Everything the benchmark feeds the engine is made here from one seed:

* ``tables/documents.parquet`` and ``tables/embeddings.parquet`` in the
  engine's test-table schema (the ``curate`` workload's input);
* ``tree/`` — a file tree built from those documents, mixing markdown
  sections, Python and TypeScript functions and plain prose (the
  ``loop`` workload's corpus);
* ``plan/`` — the queries, the append texts, the delete picks and the
  tree's file list, one item per line.

The same seed always gives byte-identical inputs; sizes (file counts by
type, documents, queries) do not depend on the seed, so run times are
comparable across seeds.
"""
import os
import random
import textwrap

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The engine's test tables use this 30-word vocabulary; the registry's
# curation thresholds are tuned to its statistics.
VOCAB = ("merge window customer spark part group stream filter the sort scan "
         "vector join query big hash column data agg table line small slow "
         "key fast order row value a batch").split()
LANGS = ["en"] * 8 + ["zh"] * 3 + ["es"] * 3 + ["fr"] * 3 + ["de"] * 3
N_DOCS = 500
N_SOURCES = 20
DIM = 64
N_LABELS = 10
# file tree make-up: (extension, file count, documents per file)
TREE = [(".md", 3, 5), (".py", 3, 5), (".ts", 3, 5), (".txt", 3, 5)]
N_QUERIES = 60
N_APPENDS = 400
WRAP = 72


def _doc_text(rng):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 95)))


def documents(rng):
    texts = [_doc_text(rng) for _ in range(N_DOCS)]
    # exact and near duplicates, as the dedup stages expect to meet
    for i in range(8):
        texts[rng.randrange(20, N_DOCS)] = texts[rng.randrange(20, N_DOCS)]
    for i in range(12):
        j = rng.randrange(20, N_DOCS)
        texts[j] = texts[rng.randrange(N_DOCS)] + " dup"
    rows = {
        "doc_id": list(range(N_DOCS)),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(N_DOCS)],
        "source": ["src%d" % (i % N_SOURCES) for i in range(N_DOCS)],
        "n_chars": [len(t) for t in texts],
    }
    return pa.table(rows, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]))


def embeddings(seed):
    g = np.random.default_rng(seed)
    centers = g.normal(size=(N_LABELS, DIM))
    labels = g.integers(0, N_LABELS, size=N_DOCS)
    vecs = centers[labels] + 0.6 * g.normal(size=(N_DOCS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


def _ident(rng):
    return "_".join(rng.choice(VOCAB[:-2]) for _ in range(2)) + \
        "_%d" % rng.randrange(1000)


def _wrap(text, indent=""):
    return textwrap.wrap(text, WRAP, initial_indent=indent,
                         subsequent_indent=indent)


def render(ext, docs, rng):
    out = []
    if ext == ".md":
        out.append("# " + " ".join(docs[0].split()[:4]))
        for d in docs:
            out += ["", "## " + " ".join(d.split()[:3]), ""] + _wrap(d)
    elif ext == ".py":
        for d in docs:
            out += ["def %s(rows):" % _ident(rng), '    """'] + \
                _wrap(d, "    ") + ['    """', "    return rows", "", ""]
    elif ext == ".ts":
        for d in docs:
            out += ["export function %s(rows: number[]): number[] {"
                    % _ident(rng)] + _wrap(d, "  // ") + \
                ["  return rows;", "}", ""]
    else:
        for d in docs:
            out += _wrap(d) + [""]
    return "\n".join(out).rstrip("\n") + "\n"


def tree(rng, texts, root):
    files = []
    for ext, count, per in TREE:
        sub = {".md": "docs", ".py": "src/py", ".ts": "src/ts",
               ".txt": "notes"}[ext]
        os.makedirs(os.path.join(root, sub), exist_ok=True)
        for i in range(count):
            docs = [rng.choice(texts) for _ in range(per)]
            rel = "%s/%s_%02d%s" % (sub, _ident(rng), i, ext)
            with open(os.path.join(root, rel), "w", encoding="utf-8") as f:
                f.write(render(ext, docs, rng))
            files.append(rel)
    return sorted(files)


def _token(rng):
    return "".join(rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(8))


def plan(rng, texts):
    queries = []
    for _ in range(N_QUERIES):
        queries.append(" ".join(rng.choice(VOCAB[:-2])
                                for _ in range(rng.randint(2, 4))))
    # each append carries words of its own, so a query made of its words
    # has exactly one best match: itself
    appends = []
    for i in range(N_APPENDS):
        words = [_token(rng) for _ in range(3)] + \
            rng.choice(texts).split()[:rng.randint(6, 20)]
        rng.shuffle(words)
        appends.append(" ".join(words))
    return {"queries": queries, "appends": appends,
            "delete_picks": [rng.random() for _ in range(N_APPENDS)]}


def generate(seed, out):
    rng = random.Random(seed)
    os.makedirs(os.path.join(out, "tables"), exist_ok=True)
    docs = documents(rng)
    pq.write_table(docs, os.path.join(out, "tables", "documents.parquet"))
    pq.write_table(embeddings(seed),
                   os.path.join(out, "tables", "embeddings.parquet"))
    texts = docs.column("text").to_pylist()
    files = tree(rng, texts, os.path.join(out, "tree"))
    p = plan(rng, texts)
    p["files"] = files
    os.makedirs(os.path.join(out, "plan"))
    for k, items in p.items():
        with open(os.path.join(out, "plan", k + ".txt"), "w", encoding="utf-8") as f:
            f.write("".join("%s\n" % x for x in items))
    return p
