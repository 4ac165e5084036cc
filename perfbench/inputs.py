"""Seeded workload inputs and the expected results they are checked against.

Everything a run feeds the library comes from here, made from the workload
seed over the fixed corpus `gen_data.py` writes. The expected results are
computed independently of the library, in Python, from the generated data:

- distinct key counts per table (what `bulkImportAll` must report);
- a BM25 twin scored straight from the document texts, for every distinct
  served query;
- `searchAll` hit counts, from substring matches over the string columns;
- the per-document (distinct terms, tokens) each upsert batch must show
  when read back, and the corpus statistics after the batches.
"""
import json
import math
import os
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen_data import LANGS, VOCAB

# Each table's document id column: the `_id` the importer keys on.
TABLE_KEYS = [("region", "r_regionkey"), ("nation", "n_nationkey"),
              ("customer", "c_custkey"), ("supplier", "s_suppkey"),
              ("part", "p_partkey"), ("orders", "o_orderkey"),
              ("lineitem", "l_orderkey"), ("events", "event_id"),
              ("documents", "doc_id"), ("embeddings", "vec_id")]

# Run in this order every time: a JVM's first job pays some seconds of
# warm-up, which a seeded order would move from job to job.
BATCH_JOBS = ["sql_q18_large_orders", "llm_boilerplate_ngrams", "llm_pack_sequences",
              "llm_curate_pipeline"]

READS = 240          # longer than any run's stream, so it never wraps
SCAN_EVERY = 5       # one all-index keyword scan per five reads; BM25 the rest
WRITE_BATCHES = 2
BATCH_DOCS = 100     # half updates of existing ids, half new ids
NEW_ID_BASE = 10_000_000


def tokens(text):
    """Spark's `split(lower(text), "\\s+")`: empty edge tokens kept."""
    return re.split(r"\s+", text.lower())


def manifest(data_dir):
    """Row, distinct-key and byte counts of the generated tables (cached)."""
    path = os.path.join(data_dir, "manifest.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    tables = []
    for name, key in TABLE_KEYS:
        f = os.path.join(data_dir, f"{name}.parquet")
        col = pq.read_table(f, columns=[key]).column(key)
        tables.append({"name": name, "key": key, "rows": len(col),
                       "distinct_keys": pc.count_distinct(col).as_py(),
                       "bytes": os.path.getsize(f)})
    out = {"tables": tables}
    with open(path + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out


class Corpus:
    """Token statistics of the documents table, the BM25 twin's input."""

    def __init__(self, texts, ids):
        self.tf = {}
        self.ntok = {}
        for d, t in zip(ids, texts):
            toks = tokens(t)
            self.ntok[d] = len(toks)
            self.tf[d] = Counter(toks)
        self.n = float(len(ids))
        self.sum_dl = float(sum(self.ntok.values()))
        self.df = Counter(w for c in self.tf.values() for w in c)

    def bm25(self, terms, keep=30):
        """Top `keep` (doc, score) of `bm25FromPostings`, same arithmetic."""
        n, dl = self.n, self.sum_dl
        idf = [math.log(1.0 + ((n - self.df[t]) + 0.5) / (self.df[t] + 0.5)) for t in terms]
        scored = []
        for d, c in self.tf.items():
            if not any(t in c for t in terms):
                continue
            norm = 1.2 * (0.25 + 0.75 * (self.ntok[d] * n / dl))
            s = 0.0
            for t, w in zip(terms, idf):
                tf = float(c.get(t, 0))
                s = s + w * ((tf * 2.2) / (tf + norm))
            s = float(Decimal(repr(s)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))
            if s > 0:
                scored.append((-s, d))
        scored.sort()
        return [(d, -s) for s, d in scored[:keep]]


def zipf_terms(rng, ranked, k):
    w = 1.0 / np.arange(1, len(ranked) + 1)
    return list(rng.choice(ranked, size=k, replace=False, p=w / w.sum()))


def keyword_pool(rng, rows):
    """Four keywords that hit and four that cannot. The hits are rare (a
    name, a nation, the `dup` marker), so a scan's cost is the scan's and
    not the serialization of a seed-dependent number of hits.
    """
    hits = [f"Customer#{rng.integers(0, rows['customer']):09d}",
            f"Supplier#{rng.integers(0, rows['supplier']):09d}",
            f"NATION_{rng.integers(0, 25)}", "dup"]
    letters = list("abcdefghijlmnopqrstuvwxy")
    misses = ["zq" + "".join(rng.choice(letters, 5)) for _ in range(4)]
    return [str(k) for k in hits] + misses


def hit_counts(data_dir, keywords):
    """Rows of every table whose string columns contain each keyword.

    The pool's keywords all hold a letter other than `E`, so they cannot
    occur in a stringified number, timestamp or float array; matching the
    string columns alone is the whole answer.
    """
    out = dict.fromkeys(keywords, 0)
    for name, _ in TABLE_KEYS:
        t = pq.read_table(os.path.join(data_dir, f"{name}.parquet"))
        cols = [t.column(i) for i, f in enumerate(t.schema) if str(f.type) == "string"]
        for kw in keywords:
            if cols:
                hit = pc.match_substring(cols[0], kw)
                for c in cols[1:]:
                    hit = pc.or_(hit, pc.match_substring(c, kw))
                out[kw] += pc.sum(hit.cast("int64")).as_py() or 0
    return out


def random_text(rng):
    return " ".join(rng.choice(VOCAB, int(rng.integers(10, 101))))


def serve_inputs(rng, data_dir, m):
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pydict()
    corpus = Corpus(docs["text"], docs["doc_id"])
    ranked = sorted(corpus.df, key=lambda w: (-corpus.df[w], w))
    pool = keyword_pool(rng, {t["name"]: t["rows"] for t in m["tables"]})
    # Every block of five reads opens with one keyword scan, so each run's
    # stream has the same mix however short it is.
    def bm25_read():
        return {"kind": "bm25", "terms": zipf_terms(rng, ranked, int(rng.integers(1, 4)))}

    def scan_read():
        return {"kind": "search_all", "keyword": str(rng.choice(pool))}
    reads = [scan_read() if i % SCAN_EVERY == 0 else bm25_read() for i in range(READS)]
    warmup = [scan_read()] + [bm25_read() for _ in range(3)]
    bm25 = {}
    for r in reads + warmup:
        q = " ".join(r.get("terms", []))
        if r["kind"] == "bm25" and q not in bm25:
            ranked_docs = corpus.bm25(r["terms"])
            bm25[q] = {"top": [s for _, s in ranked_docs[:10]],
                       "scores": {str(d): s for d, s in ranked_docs}}

    updated = rng.choice(docs["doc_id"], WRITE_BATCHES * BATCH_DOCS // 2, replace=False)
    writes, n, sum_dl = [], corpus.n, corpus.sum_dl
    for b in range(WRITE_BATCHES):
        ids = [int(x) for x in updated[b * BATCH_DOCS // 2:(b + 1) * BATCH_DOCS // 2]]
        ids += [NEW_ID_BASE + b * BATCH_DOCS + i for i in range(BATCH_DOCS - len(ids))]
        batch, expect = [], {}
        for d in ids:
            text = random_text(rng)
            toks = tokens(text)
            batch.append({"doc_id": d, "text": text, "lang": str(rng.choice(LANGS)),
                          "source": f"src{rng.integers(0, 20)}"})
            expect[str(d)] = [len(set(toks)), len(toks)]
            if d in corpus.ntok:
                sum_dl -= corpus.ntok[d]
            else:
                n += 1
            sum_dl += len(toks)
        writes.append({"docs": batch, "expect": expect})
    return {"tables": m["tables"],
            "corpus": {"n_docs": corpus.n, "sum_dl": corpus.sum_dl},
            "warmup": warmup, "reads": reads, "bm25_expect": bm25,
            "search_all_expect": hit_counts(data_dir, pool),
            "writes": writes,
            "final_corpus": {"n_docs": n, "sum_dl": sum_dl}}


def batch_inputs(sf_label):
    """The jobs read the fixed corpus; the seed changes nothing here."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_hashes.json")) as fh:
        hashes = json.load(fh).get(sf_label, {})
    return {"jobs": BATCH_JOBS, "hashes": hashes}


def make(workload, seed, data_dir, sf_label):
    rng = np.random.default_rng([seed, 7])
    if workload == "serve":
        return serve_inputs(rng, data_dir, manifest(data_dir))
    if workload == "batch":
        return batch_inputs(sf_label)
    raise ValueError(f"unknown workload {workload}")
