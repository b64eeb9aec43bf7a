"""Seeded benchmark inputs, built once per (kind, seed, size) and reused.

Every fixture is a pure function of its seed: the same seed gives
byte-identical files. The program under test only ever sees these files.

* ``corpus``: ``documents.parquet`` and ``embeddings.parquet`` shaped like
  the repository's test tables (30-word vocabulary, near-duplicate pairs,
  unit-norm 64-d vectors around 10 weak label centres), plus ingest
  slices and probes for the index layer.
* ``envelope``: Kafka envelope rows (16 B keys, 200 B values, one ``seq``
  header, 8 partitions) in uniform parquet files, plus the manifest: one
  64-bit digest per offset (see ``envelope_digest``).
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64

TOPIC = "repl-bench"
PARTITIONS = 8
KEY_BYTES = 16
VALUE_BYTES = 200
BASE_TS_MS = 1_700_000_000_000

FNV_BASIS = np.uint64(0xCBF29CE484222325)
FNV_PRIME = np.uint64(0x100000001B3)
SEQ_KEY_WORD = int.from_bytes(b"seq", "little")


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _documents(seed, n_docs):
    rng = _rng(seed, 1)
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, at = [], 0
    for n in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + n]))
        at += n
    # near-duplicate pairs: a later doc repeats an earlier one with a
    # single token replaced by "dup"
    n_pairs = n_docs // 40
    copies = rng.choice(np.arange(n_docs // 2, n_docs), n_pairs, replace=False)
    for j in copies:
        toks = texts[int(rng.integers(0, n_docs // 2))].split(" ")
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[j] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P).tolist()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(seed, n_vecs):
    rng = _rng(seed, 2)
    centres = rng.normal(0.0, 0.009, (10, DIM))
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    x = rng.normal(0.0, 0.125, (n_vecs, DIM)) + centres[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n_vecs + 1) * DIM, DIM, dtype=np.int32)),
        pa.array(x.reshape(-1)))
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels),
    })


def build_corpus(out, seed, n_docs, n_vecs, n_slices, n_probes):
    """``documents.parquet`` and ``embeddings.parquet``, plus the same rows
    cut into ``n_slices`` ingest slices in seeded order
    (``slices/vec-NNN.parquet`` with (vec_id, embedding),
    ``slices/doc-NNN.parquet`` with (doc_id, text)) and ``probes.txt``:
    alternating vector probes (``v:<vec_id>``, a seeded corpus vector)
    and 2-term BM25 probes (``t:<term>,<term>``)."""
    os.makedirs(f"{out}/slices", exist_ok=True)
    docs, vecs = _documents(seed, n_docs), _embeddings(seed, n_vecs)
    pq.write_table(docs, f"{out}/documents.parquet")
    pq.write_table(vecs, f"{out}/embeddings.parquet")
    rng = _rng(seed, 3)
    for name, table in (("doc", docs.select(["doc_id", "text"])),
                        ("vec", vecs.select(["vec_id", "embedding"]))):
        order = rng.permutation(table.num_rows)
        for i, part in enumerate(np.array_split(order, n_slices)):
            pq.write_table(table.take(pa.array(np.sort(part))),
                           f"{out}/slices/{name}-{i:03d}.parquet")
    with open(f"{out}/probes.txt", "w") as f:
        for i in range(n_probes):
            if i % 2 == 0:
                f.write(f"v:{int(rng.integers(0, n_vecs))}\n")
            else:
                a, b = rng.choice(len(VOCAB), 2, replace=False)
                f.write(f"t:{VOCAB[a]},{VOCAB[b]}\n")


def envelope_digest(partition, ts_ms, keys, values, seqs):
    """One 64-bit FNV-1a-over-words digest per row, over every field the
    sink must deliver: partition, timestamp ms, key and value (lengths,
    then little-endian 8-byte words, zero-padded), header count, and each
    header's key (packed into one word) and value. ``Digest.scala``
    computes the same function over what the sender receives.
    ``keys``/``values`` are (rows, bytes) uint8 arrays, ``seqs`` the
    per-row ``seq`` header value (8-byte little-endian)."""
    n = len(partition)
    words = [partition.astype(np.uint64), ts_ms.astype(np.uint64),
             np.full(n, keys.shape[1], np.uint64), np.full(n, values.shape[1], np.uint64)]
    for arr in (keys, values):
        pad = (-arr.shape[1]) % 8
        padded = np.pad(arr, ((0, 0), (0, pad)))
        words.extend(np.ascontiguousarray(padded).view("<u8").T)
    words += [np.ones(n, np.uint64), np.full(n, SEQ_KEY_WORD, np.uint64),
              np.full(n, 8, np.uint64), seqs.astype(np.uint64)]
    h = np.full(n, FNV_BASIS, np.uint64)
    with np.errstate(over="ignore"):
        for w in words:
            h = (h ^ w) * FNV_PRIME
    return h


def _envelope_file(rng, first_offset, rows, seq):
    offsets = np.arange(first_offset, first_offset + rows, dtype=np.int64)
    partition = rng.integers(0, PARTITIONS, rows).astype(np.int32)
    ts_ms = BASE_TS_MS + offsets * 3 + rng.integers(0, 3, rows)
    keys = np.empty((rows, KEY_BYTES), np.uint8)
    keys[:, :8] = offsets.astype(">u8").view(np.uint8).reshape(rows, 8)
    keys[:, 8:] = rng.integers(0, 256, (rows, KEY_BYTES - 8), dtype=np.uint8)
    values = rng.integers(0, 256, (rows, VALUE_BYTES), dtype=np.uint8)
    seqs = np.full(rows, seq, np.int64)

    def binary(arr):
        width = arr.shape[1]
        offs = pa.py_buffer(np.arange(0, (rows + 1) * width, width, dtype=np.int32))
        return pa.Array.from_buffers(pa.binary(), rows, [None, offs, pa.py_buffer(arr.tobytes())])

    seq_bytes = np.full((rows, 8), 0, np.uint8)
    seq_bytes[:] = np.frombuffer(np.int64(seq).astype("<i8").tobytes(), np.uint8)
    header = pa.StructArray.from_arrays(
        [pa.array(["seq"] * rows), binary(seq_bytes)], names=["key", "value"])
    headers = pa.ListArray.from_arrays(pa.array(np.arange(rows + 1, dtype=np.int32)), header)
    table = pa.table({
        "topic": pa.array([TOPIC] * rows),
        "partition": pa.array(partition),
        "offset": pa.array(offsets),
        "timestamp": pa.array(ts_ms, pa.timestamp("ms", tz="UTC")),
        "key": binary(keys),
        "value": binary(values),
        "headers": headers,
    })
    return table, envelope_digest(partition, ts_ms, keys, values, seqs)


def build_envelopes(out, seed, groups):
    """``groups``: [(name, files, rows_per_file)]. Offsets and ``seq`` run
    on across groups; ``manifest.json`` records each group's files and
    offset range, ``digests.npy`` the per-offset digest."""
    rng = _rng(seed, 4)
    manifest, digests, offset, seq = {"groups": {}}, [], 0, 0
    for name, files, rows in groups:
        os.makedirs(f"{out}/{name}", exist_ok=True)
        entry = {"first_offset": offset, "files": [], "rows_per_file": rows}
        for _ in range(files):
            table, digest = _envelope_file(rng, offset, rows, seq)
            path = f"{name}/part-{seq:05d}.parquet"
            pq.write_table(table, f"{out}/{path}", compression="none")
            entry["files"].append(path)
            digests.append(digest)
            offset += rows
            seq += 1
        entry["end_offset"] = offset
        manifest["groups"][name] = entry
    np.save(f"{out}/digests.npy", np.concatenate(digests))
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)


def cached(cache_root, key, build, keep=2):
    """Return ``cache_root/key``, building it with ``build(path)`` unless a
    completed copy exists. Keeps at most ``keep`` fixtures per kind (the
    key's prefix before the first '-') so the cache stays bounded."""
    path = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(path, "_done")):
        os.utime(path)
        return path
    for stale in (path, path + ".tmp"):
        shutil.rmtree(stale, ignore_errors=True)
    kind = key.split("-")[0] + "-"
    others = sorted((p for p in os.listdir(cache_root) if p.startswith(kind)),
                    key=lambda p: os.path.getmtime(os.path.join(cache_root, p)))
    for old in others[:max(0, len(others) - keep + 1)]:
        shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
    build(path + ".tmp")
    os.rename(path + ".tmp", path)
    open(os.path.join(path, "_done"), "w").close()
    return path
