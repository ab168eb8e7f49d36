"""Seeded input generation. The program sees only these files.

Every generator takes a numpy Generator made from the run's --seed, so the
same seed always gives byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = {
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "de", "que"],
    "fr": ["le", "les", "et", "une"],
    "de": ["der", "die", "und", "das"],
}
LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]
SYLLABLES = ["ka", "lo", "mi", "ra", "te", "su", "no", "vi", "da", "pe", "zo", "ch", "ba", "fu", "gi", "ho"]
DIMS = 64
POP_COLS = [f"P1_00{i}N" for i in range(1, 9)]
T0_DAYS = 19000  # 2022-01-08 in days since epoch: the snapshot's date; batch b is dated T0_DAYS + b + 1


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def vocabulary(rng, n=600):
    words = set()
    while len(words) < n:
        k = rng.integers(2, 4)
        words.add("".join(rng.choice(SYLLABLES, size=k)))
    return sorted(words)


# ---------------------------------------------------------------- documents

def documents(rng, vocab, first_id, n, dup_frac=0.04, near_frac=0.04):
    """Documents shaped like the program's test corpus: doc_id, text,
    lang, source, n_chars. A slice are exact copies and token-edited
    near copies of earlier documents, so every dedup stage has work."""
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    texts, langs = [], []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < dup_frac:
            j = int(rng.integers(0, i))
            texts.append(texts[j]); langs.append(langs[j])
            continue
        if i > 10 and r < dup_frac + near_frac:
            j = int(rng.integers(0, i))
            toks = texts[j].split()
            for _ in range(max(1, len(toks) // 15)):
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks)); langs.append(langs[j])
            continue
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        m = int(rng.integers(12, 90))
        toks = list(rng.choice(vocab, size=m, p=zipf))
        for w in STOPWORDS.get(lang, []):
            for _ in range(int(rng.integers(0, 4))):
                toks.insert(int(rng.integers(0, len(toks) + 1)), w)
        text = " ".join(toks)
        if rng.random() < 0.3:
            text += "."
        texts.append(text); langs.append(lang)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs,
        "source": [f"src{int(x)}" for x in rng.integers(0, 20, size=n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, first_id, n, centers):
    """64-dim float vectors around seeded centres (labels = centre id),
    with a slice of planted close pairs."""
    lab = rng.integers(0, len(centers), size=n)
    vecs = centers[lab] + rng.normal(0, 0.35, size=(n, DIMS))
    for i in range(5, n):
        if rng.random() < 0.03:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0, 0.02, size=DIMS)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": lab.astype(np.int32),
    })


def edges(rng, n_nodes, n_edges, node_offset=0):
    src = rng.integers(0, n_nodes, size=n_edges) + node_offset
    # preferential targets: low ids are popular
    dst = (rng.pareto(1.2, size=n_edges) * 50).astype(np.int64) % n_nodes
    keep = src != dst
    return pa.table({"src": src[keep].astype(np.int64), "dst": dst[keep].astype(np.int64)})


def corpus_base(out_dir, seed):
    """Base corpus for corpus_dedup: documents + embeddings, the two
    tables graft.ScaleUp replicates."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng)
    write(documents(rng, vocab, 0, 1500), f"{out_dir}/documents.parquet/part-0.parquet")
    centers = rng.normal(0, 1, size=(10, DIMS))
    write(embeddings(rng, 0, 500, centers), f"{out_dir}/embeddings.parquet/part-0.parquet")


def index_inputs(out_dir, seed, n_batches):
    """index_serve: base docs and link edges plus seeded delta batches with
    doc ids disjoint from everything before them, and the standing BM25
    term sets."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(rng)
    n_docs, n_nodes = 2000, 2000
    write(documents(rng, vocab, 0, n_docs), f"{out_dir}/base/documents.parquet")
    write(edges(rng, n_nodes, 6000), f"{out_dir}/base/edges.parquet")
    for b in range(n_batches):
        write(documents(rng, vocab, n_docs + b * 100, 100), f"{out_dir}/delta/{b:04d}/documents.parquet")
        write(edges(rng, n_nodes, 300), f"{out_dir}/delta/{b:04d}/edges.parquet")
    terms = [list(rng.choice(vocab[:200], size=int(rng.integers(2, 5)), replace=False)) for _ in range(8)]
    return {"bm25_queries": terms}


# ---------------------------------------------------------------- census

def _units(rng, first, n):
    """Census geography units: a geoid with a '/' the cleanse step
    replaces, a level, a state fips, an integer envelope, an area and a
    unique part id. Every 20th unit is an aiannh area shipped as two
    parts (reservation 'R' + trust land 'T') that collide on the
    stripped geoid and are merged."""
    rows = []
    for u in range(first, first + n):
        fips = f"{u % 50 + 1:02d}"
        lat, lon = int(rng.integers(2500, 4900)), int(rng.integers(-12400, -6700))
        if u % 20 == 0:
            for part, mark in enumerate("RT"):
                h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
                rows.append((f"{u:07d}{mark}", "aiannh", fips, f"Area {u}. Part {part}",
                             lat + part * 3, lat + part * 3 + h, lon, lon + w, h * w, u * 2 + part))
        else:
            h, w = int(rng.integers(1, 12)), int(rng.integers(1, 12))
            rows.append((f"{fips}/{u:07d}", "block", fips, f"Block {u}. County {u % 97}",
                         lat, lat + h, lon, lon + w, h * w, u * 2))
    return rows


def _census_table(rng, rows, dup_frac):
    out = []
    for r in rows:
        pops = [int(x) for x in rng.integers(0, 5000, size=len(POP_COLS))]
        out.append(r + tuple(pops))
        if rng.random() < dup_frac:
            out.append(r + tuple(pops))  # exact duplicate row
    cols = list(zip(*out))
    names = ["geoid", "level", "fips", "name", "latLo", "latHi", "lonLo", "lonHi", "area", "partId"] + POP_COLS
    data = {}
    for i, n in enumerate(names):
        if i < 4:
            data[n] = pa.array(cols[i], type=pa.string())
        else:
            data[n] = pa.array(cols[i], type=pa.int64())
    return pa.table(data)


def census_inputs(out_dir, seed, n_batches, n_units=3000, batch_frac=0.06, new_per_batch=20):
    """etl_versioned: an initial snapshot of all units, then seeded import
    batches. The seed picks each batch's members (re-imported units with
    new counts) and the new units it adds."""
    rng = np.random.default_rng([seed, 3])
    base_rows = _units(rng, 0, n_units)
    by_unit = {}
    for r in base_rows:
        by_unit.setdefault(r[9] // 2, []).append(r)
    write(_census_table(rng, base_rows, 0.02), f"{out_dir}/snapshot.parquet")
    next_unit = n_units
    for b in range(n_batches):
        members = rng.choice(sorted(by_unit), size=int(len(by_unit) * batch_frac), replace=False)
        rows = [r for u in sorted(int(m) for m in members) for r in by_unit[u]]
        fresh = _units(rng, next_unit, new_per_batch)
        for r in fresh:
            by_unit.setdefault(r[9] // 2, []).append(r)
        next_unit += new_per_batch
        write(_census_table(rng, rows + fresh, 0.03), f"{out_dir}/batch/{b:04d}.parquet")
