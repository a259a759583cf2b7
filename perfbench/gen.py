"""Seeded input generator for the benchmark.

Writes, under one output directory:

  tables/     the ten harness tables (region ... embeddings) the query mix
              reads. They come from a FIXED generator seed, so the golden
              result fingerprints in golden/query_fingerprints.json hold for
              every run; the run's --seed only shuffles the query order.
  corpus/     the dedup + ANN inputs. Documents come from --seed; the
              vectors and queries from a fixed seed, so recall@10 is a
              property of the code, not of the draw:
                base_docs.parquet     documents plus planted near-duplicates
                planted.json          the planted (original, copy) id pairs
                base_vecs.parquet     the corpus embeddings the index is built on
                ingest_docs.parquet / ingest_vecs.parquet, the stream batch
                queries.parquet       perturbed copies of corpus vectors
                truth.json            sizes, and the exact cosine top-10 of every
                                      query against the index after ingest

The RSNA frames and labels are written by the JVM side (EtlPhase.scala),
because the DICOM writer under test lives there.
"""

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64

# Corpus-phase sizes (see README.md for the reasoning).
N_DOCS = 2000
PLANTED_SHARE = 0.05
N_VECS = 2000
INGEST_DOCS = 200
INGEST_VECS = 250
QUERIES = 50
VECTOR_SEED = 20240102
QUERY_ID_BASE = 10_000_000
INGEST_ID_BASE = 1_000_000


def write(table, path):
    pq.write_table(table, path)


def ts_col(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def random_docs(rng, n, lo=10, hi=100):
    lens = rng.integers(lo, hi + 1, size=n)
    return [" ".join(rng.choice(VOCAB, size=k)) for k in lens]


def doc_table(ids, texts, rng):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def vec_table(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": pa.array([list(map(float, r)) for r in vecs],
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    })


def gen_tables(out):
    """TPC-H-shaped star schema + events/documents/embeddings at ~sf0.01."""
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out, exist_ok=True)
    write(pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    write(pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    }), f"{out}/nation.parquet")

    n_cust, n_supp, n_part, n_ord, n_line = 1500, 100, 2000, 15000, 60000
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    write(pa.table({
        "c_custkey": pa.array(range(n_cust), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust),
    }), f"{out}/customer.parquet")
    write(pa.table({
        "s_suppkey": pa.array(range(n_supp), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")
    colors = ["red", "blue", "green", "black", "white", "small", "large", "shiny"]
    nouns = ["ring", "widget", "bolt", "gear", "valve", "pipe", "spring", "nut"]
    write(pa.table({
        "p_partkey": pa.array(range(n_part), type=pa.int64()),
        "p_name": [f"{rng.choice(colors)} {rng.choice(nouns)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"],
                             n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }), f"{out}/part.parquet")

    day_us = 86_400 * 1_000_000
    epoch_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
    write(pa.table({
        "o_orderkey": pa.array(range(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": ts_col(epoch_1995 + rng.integers(0, 2400, n_ord) * day_us),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), f"{out}/orders.parquet")
    write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": ts_col(epoch_1995 + 86_400_000_000 + rng.integers(0, 2500, n_line) * day_us),
    }), f"{out}/lineitem.parquet")

    n_ev = 10000
    epoch_2024 = 1_704_067_200 * 1_000_000
    gaps = rng.integers(1, 2 * (30 * day_us) // n_ev, n_ev)
    write(pa.table({
        "event_id": pa.array(range(n_ev), type=pa.int64()),
        "ts": ts_col(epoch_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, n_ev), type=pa.int64()),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")

    n_doc = 500
    texts = random_docs(rng, n_doc)
    for i in range(0, n_doc, 50):  # a few near-duplicate families
        texts[i + 1] = texts[i] + " dup"
    write(doc_table(list(range(n_doc)), texts, rng), f"{out}/documents.parquet")
    n_vec = 500
    write(vec_table(list(range(n_vec)), unit_vectors(rng, n_vec),
                    rng.integers(0, 10, n_vec)), f"{out}/embeddings.parquet")


def shingles(text):
    t = text.split()
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def near_dup(rng, text):
    """One interior word substitution; retried until word-3-shingle Jaccard
    clears 0.85 (the engine's threshold is 0.8)."""
    words = text.split()
    for _ in range(50):
        w = list(words)
        pos = int(rng.integers(3, len(w) - 3))
        w[pos] = VOCAB[(VOCAB.index(w[pos]) + 1 + int(rng.integers(0, len(VOCAB) - 1)))
                       % len(VOCAB)]
        cand = " ".join(w)
        if jaccard(text, cand) >= 0.85:
            return cand
    return text + " " + words[-1]


def gen_corpus(out, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    texts = random_docs(rng, N_DOCS)
    long_ids = [i for i, t in enumerate(texts) if len(t.split()) >= 60]
    n_planted = int(N_DOCS * PLANTED_SHARE)
    originals = sorted(rng.choice(long_ids, size=n_planted, replace=False).tolist())
    planted = []
    ids = list(range(N_DOCS))
    for j, o in enumerate(originals):
        ids.append(N_DOCS + j)
        texts.append(near_dup(rng, texts[o]))
        planted.append([o, N_DOCS + j])
    write(doc_table(ids, texts, rng), f"{out}/base_docs.parquet")

    vrng = np.random.default_rng(VECTOR_SEED)
    base = unit_vectors(vrng, N_VECS)
    write(vec_table(list(range(N_VECS)), base, vrng.integers(0, 10, N_VECS)),
          f"{out}/base_vecs.parquet")

    src = vrng.choice(N_VECS, size=QUERIES, replace=False)
    q = base[src] + vrng.standard_normal((QUERIES, DIM)).astype(np.float32) * 0.05
    q = q / np.linalg.norm(q, axis=1, keepdims=True)
    q_ids = QUERY_ID_BASE + np.arange(QUERIES)
    write(vec_table(q_ids.tolist(), q, [0] * QUERIES), f"{out}/queries.parquet")

    # one ingest batch: half novel documents, half near-duplicates of base ones
    n_dup = INGEST_DOCS // 2
    new_texts = random_docs(rng, INGEST_DOCS - n_dup, lo=30)
    new_texts += [near_dup(rng, texts[o])
                  for o in rng.choice(long_ids, size=n_dup, replace=False)]
    write(doc_table(list(range(INGEST_ID_BASE, INGEST_ID_BASE + INGEST_DOCS)), new_texts, rng),
          f"{out}/ingest_docs.parquet")
    vecs = unit_vectors(vrng, INGEST_VECS)
    vids = np.arange(INGEST_ID_BASE, INGEST_ID_BASE + INGEST_VECS)
    write(vec_table(vids.tolist(), vecs, vrng.integers(0, 10, INGEST_VECS)),
          f"{out}/ingest_vecs.parquet")

    # searches run after the ingest, so the truth covers base + ingested rows
    state = np.vstack([base, vecs]).astype(np.float64)
    state_ids = np.concatenate([np.arange(N_VECS), vids])
    top = np.argsort(-(q.astype(np.float64) @ state.T), axis=1, kind="stable")[:, :10]
    truth = {str(int(qi)): [int(state_ids[j]) for j in row] for qi, row in zip(q_ids, top)}

    with open(f"{out}/planted.json", "w") as f:
        json.dump(planted, f)
    with open(f"{out}/truth.json", "w") as f:
        json.dump({"docs": len(ids), "vectors": N_VECS,
                   "ingest_docs": INGEST_DOCS, "ingest_vectors": INGEST_VECS,
                   "truth": truth}, f)


def main():
    out, seed = sys.argv[1], int(sys.argv[2])
    gen_tables(f"{out}/tables")
    gen_corpus(f"{out}/corpus", seed)


if __name__ == "__main__":
    main()
