"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed: the same seed gives the
same documents, byte for byte. The program under test only ever sees the
files written here; the checks in checks.py reuse the generator's own
texts as ground truth.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Annotation corpus: English-like documents that exercise every POS rule
# ---------------------------------------------------------------------------

FIRST = ["Alice", "Bruno", "Chen", "Dana", "Elena", "Farid", "Grace", "Hugo",
         "Ines", "Jonas", "Kiran", "Lena", "Marco", "Nadia", "Omar", "Priya"]
LAST = ["Adams", "Baker", "Costa", "Duval", "Evans", "Fischer", "Garcia",
        "Hansen", "Ito", "Jensen", "Kowalski", "Larsen", "Moreau", "Novak"]
PLACES = ["New York", "Port Elliot", "San Marco", "Lake Vale", "North Bay",
          "Cape Town", "Rio Verde", "East Haven"]
ORGS = ["Acme Corporation", "Northwind Traders", "Blue River Bank",
        "Orion Labs", "Delta Freight Company", "Summit Health Group"]
DET = ["the", "a", "an", "this", "that", "these", "those"]
PREP = ["of", "in", "on", "at", "by", "for", "with", "to", "from", "as"]
CONJ = ["and", "or", "but", "so", "yet"]
PRON_SUBJ = ["he", "she", "it", "we", "they"]
PRON_OBJ = ["him", "her", "them", "it"]
POSS = ["his", "its", "their", "her", "our"]
MODAL = ["will", "would", "can", "could", "should", "may", "might", "must"]
BE = ["is", "are", "was", "were", "been"]
ADV = ["quickly", "slowly", "rarely", "openly", "quietly", "nearly", "finally"]
VBG = ["running", "building", "reading", "shipping", "moving", "testing"]
VBD = ["reported", "started", "moved", "signed", "opened", "closed",
       "launched", "approved", "delayed", "walked"]
NOUN = ["report", "market", "river", "engine", "plan", "budget", "bridge",
        "school", "contract", "harbor", "price", "train", "vote", "road"]
NOUNS = ["reports", "markets", "engines", "plans", "budgets", "bridges",
         "schools", "contracts", "prices", "trains", "votes", "roads"]
ADJ = ["new", "old", "big", "small", "late", "green", "local", "cold"]


def _number(rng):
    k = rng.random()
    if k < 0.4:
        return str(rng.randint(2, 999))
    if k < 0.6:
        return f"{rng.randint(0, 99)}.{rng.randint(0, 9)}"
    if k < 0.8:
        return f"{rng.randint(1, 99)},{rng.randint(100, 999)}"
    return str(rng.randint(1950, 2030))


def _name(rng):
    k = rng.random()
    if k < 0.45:
        return f"{rng.choice(FIRST)} {rng.choice(LAST)}"
    if k < 0.7:
        return rng.choice(PLACES)
    if k < 0.85:
        return rng.choice(ORGS)
    return rng.choice(FIRST)


def _np(rng, subject):
    k = rng.random()
    if k < 0.3:
        return _name(rng)
    if k < 0.45:
        return rng.choice(PRON_SUBJ if subject else PRON_OBJ)
    if k < 0.6:
        return f"{_number(rng)} {rng.choice(NOUNS)}"
    if k < 0.7:
        return f"{rng.choice(POSS)} {rng.choice(NOUN)}"
    adj = f"{rng.choice(ADJ)} " if rng.random() < 0.4 else ""
    return f"{rng.choice(DET)} {adj}{rng.choice(NOUN + NOUNS)}"


def _vp(rng):
    k = rng.random()
    adv = f"{rng.choice(ADV)} " if rng.random() < 0.25 else ""
    if k < 0.45:
        return f"{adv}{rng.choice(VBD)}"
    if k < 0.7:
        return f"{rng.choice(MODAL)} {adv}{rng.choice(['open', 'sign', 'move', 'close'])}"
    return f"{rng.choice(BE)} {adv}{rng.choice(VBG)}"


def _sentence(rng):
    parts = [_np(rng, True), _vp(rng), _np(rng, False)]
    for _ in range(rng.randint(0, 3)):
        parts.append(f"{rng.choice(PREP)} {_np(rng, False)}")
    if rng.random() < 0.35:
        parts[-1] += ","
        parts += [rng.choice(CONJ), _np(rng, True), _vp(rng), _np(rng, False)]
    if rng.random() < 0.1:
        parts.insert(rng.randint(1, len(parts) - 1), f"({_number(rng)}%)")
    s = " ".join(parts)
    s = s[0].upper() + s[1:]
    return s + rng.choice([".", ".", ".", ".", "!", "?", "..."])


def annotation_texts(seed, n, dup_share=0.03, empty_share=0.005, salt="base"):
    """`n` documents of 2-9 sentences: `dup_share` of them exact copies of
    an earlier document and `empty_share` empty strings. Which documents
    are copies, and how long each one is, depend on the seed; how many
    copies there are and how many sentences the corpus holds do not, so
    every seed gives inputs of the same size."""
    rng = random.Random(f"{salt}:{seed}")
    n_dup, n_empty = round(n * dup_share), round(n * empty_share)
    special = rng.sample(range(1, n), n_dup + n_empty)
    dups, empties = set(special[:n_dup]), set(special[n_dup:])
    n_orig = n - n_dup - n_empty
    lengths = [2 + i % 8 for i in range(n_orig)]
    rng.shuffle(lengths)
    out, originals = [], []
    for i in range(n):
        if i in dups:
            out.append(rng.choice(originals))
        elif i in empties:
            out.append("")
        else:
            sep = rng.choice([" ", " ", "\n"])
            originals.append(sep.join(_sentence(rng) for _ in range(lengths.pop())))
            out.append(originals[-1])
    return out


def write_text_dir(texts, path):
    """One UTF-8 `.txt` file per document (the raw-text ingest layout)."""
    os.makedirs(path, exist_ok=True)
    for i, t in enumerate(texts):
        with open(os.path.join(path, f"doc{i:06d}.txt"), "w", encoding="utf-8") as f:
            f.write(t)


def write_text_table(texts, path):
    """A one-column `text` Parquet file, staged into records by the harness."""
    pq.write_table(pa.table({"text": pa.array(texts, pa.string())}), path)


# ---------------------------------------------------------------------------
# Catalog tables: the `documents` / `embeddings` shape of the test data
# ---------------------------------------------------------------------------

CATALOG_VOCAB = ["spark", "window", "merge", "table", "column", "vector",
                 "stream", "value", "data", "small", "join", "filter", "big",
                 "group", "hash", "customer", "sort", "order", "slow", "line",
                 "part", "fast", "row", "the", "agg", "key", "query", "a",
                 "scan", "batch"]
LANGS = ["en", "en", "en", "fr", "de", "es", "zh"]


def catalog_tables(seed, n_docs, n_vecs, dim=64):
    """`documents`: bag-of-words texts, 5% near-duplicates (a copy of an
    earlier original plus the word `dup`) and a few exact copies.
    `embeddings`: random unit vectors with one of ten labels."""
    rng = random.Random(f"catalog:{seed}")
    # copies are made of originals only: every near-duplicate family is a
    # star of depth 1, so the iterative rows run the same number of
    # rounds whatever the seed; the counts of copies are fixed too
    n_near, n_exact = round(n_docs * 0.05), round(n_docs * 0.002)
    special = rng.sample(range(1, n_docs), n_near + n_exact)
    near, exact = set(special[:n_near]), set(special[n_near:])
    texts, originals = [], []
    for i in range(n_docs):
        if i in near:
            texts.append(rng.choice(originals) + " dup")
        elif i in exact:
            texts.append(rng.choice(originals))
        else:
            originals.append(" ".join(rng.choice(CATALOG_VOCAB)
                                      for _ in range(rng.randint(8, 100))))
            texts.append(originals[-1])
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nrng = np.random.default_rng([seed, 7919])
    v = nrng.standard_normal((n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, 10, n_vecs).astype(np.int32), pa.int32()),
    })
    return docs, emb


def write_catalog(seed, path, n_docs, n_vecs):
    os.makedirs(path, exist_ok=True)
    docs, emb = catalog_tables(seed, n_docs, n_vecs)
    pq.write_table(docs, os.path.join(path, "documents.parquet"))
    pq.write_table(emb, os.path.join(path, "embeddings.parquet"))
