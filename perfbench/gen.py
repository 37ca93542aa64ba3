"""Seeded inputs for the benchmark: a curation corpus and an ingest topic.

The corpus is a structure-preserving replica of the repository's sf0.1
`documents` table, generated from the seed alone (no external data):

- base documents: 1250 docs of 10-100 tokens drawn from the same 30-word
  vocabulary, the same language mix and 20 round-robin sources;
- 5% near-duplicates (a copy of an earlier document plus the token `dup`,
  Jaccard about 0.97) and 2 exact duplicates per 1250 docs;
- REPLICAS copies: replica 0 is the base corpus, replica k >= 1
  interleaves a content-anchored tag after every second token, as
  scripts/make_sf1.py does, with the anchor hash salted from the seed.
  Near-duplicate and exact-duplicate structure survives inside a
  replica; any cross-replica 3-shingle differs, so cross-replica
  Jaccard is 0.

The ingest topic is a sequence of parquet files of Confluent-framed Avro
messages (magic byte, 4-byte schema id, Avro binary record) drawn from the
same corpus, with a seeded share of messages redelivered in the same file,
plus a history fingerprint table (md5 of the text) for part of the corpus.
"""
import hashlib
import json
import os
import random
import shutil
import struct

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("de", 0.14), ("fr", 0.15), ("es", 0.15))
BASE_DOCS = 1250
REPLICAS = 2
NEAR_DUP_SHARE = 0.05
EXACT_DUPS_PER_BASE = 2
TAG_VARIANTS = 64

# ingest topic
MSGS_PER_FILE = 40
TOPIC_FILES = 300
REDELIVERY_SHARE = 0.05
HISTORY_SHARE = 0.2
# writer schema (registered first, so id 1) and the evolved reader schema
WRITER_SCHEMA = {
    "type": "record", "name": "Doc", "namespace": "perfbench",
    "fields": [{"name": "msg_id", "type": "long"},
               {"name": "doc_id", "type": "long"},
               {"name": "text", "type": "string"},
               {"name": "lang", "type": "string"}]}
READER_SCHEMA = {
    "type": "record", "name": "Doc", "namespace": "perfbench",
    "fields": WRITER_SCHEMA["fields"] + [
        {"name": "source", "type": "string", "default": "ingest"}]}
WRITER_SCHEMA_ID = 1


def fnv64(s):
    h = 0xcbf29ce484222325
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001b3) & 0xFFFFFFFFFFFFFFFF
    return h


def base_corpus(rng, n_docs):
    """(text, lang, source) for the untagged base documents."""
    langs, weights = zip(*LANGS)
    docs = []
    for i in range(n_docs):
        lang = rng.choices(langs, weights)[0]
        n = rng.randint(10, 100)
        docs.append([" ".join(rng.choice(VOCAB) for _ in range(n)), lang,
                     f"src{i % 20}"])
    for i in rng.sample(range(1, n_docs), int(n_docs * NEAR_DUP_SHARE)):
        docs[i][0] = docs[rng.randrange(i)][0] + " dup"
    for i in rng.sample(range(1, n_docs), max(1, EXACT_DUPS_PER_BASE * n_docs // BASE_DOCS)):
        docs[i][0] = docs[rng.randrange(i)][0]
    return docs


def weave(text, salt):
    """Interleave a content-anchored tag after every second token."""
    toks = text.split(" ")
    out = []
    for j, t in enumerate(toks):
        out.append(t)
        if j % 2 == 1:
            out.append(f"{salt[0]}g{fnv64(salt[1] + toks[j - 1] + chr(31) + t) % TAG_VARIANTS}")
    return " ".join(out)


def corpus(seed, base_docs=BASE_DOCS):
    """Columns of the curation corpus for `seed` (a dict of lists)."""
    rng = random.Random(seed)
    base = base_corpus(rng, base_docs)
    out = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for k in range(REPLICAS):
        salt = (f"r{k}", f"{seed}:{k}:{rng.getrandbits(32)}")
        for i, (text, lang, source) in enumerate(base):
            t = weave(text, salt) if k else text
            out["doc_id"].append(k * base_docs + i)
            out["text"].append(t)
            out["lang"].append(lang)
            out["source"].append(source)
            out["n_chars"].append(len(t))
    return out


def zigzag(n):
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def avro_string(s):
    b = s.encode("utf-8")
    return zigzag(len(b)) + b


def frame(msg_id, doc_id, text, lang):
    """Confluent wire format of one writer-schema record."""
    payload = zigzag(msg_id) + zigzag(doc_id) + avro_string(text) + avro_string(lang)
    return b"\x00" + struct.pack(">i", WRITER_SCHEMA_ID) + payload


def topic(seed, docs):
    """Ingest files, each a list of (msg_id, corpus row) pairs, and the
    sorted history fingerprints."""
    rng = random.Random(seed * 7919 + 1)
    n = len(docs["doc_id"])
    files, msg_id = [], 0
    for _ in range(TOPIC_FILES):
        rows = []
        for _ in range(MSGS_PER_FILE):
            i = rng.randrange(n)
            if rows and rng.random() < REDELIVERY_SHARE:
                i = rng.choice(rows)[1]  # same document again
            rows.append((msg_id, i))
            msg_id += 1
        files.append(rows)
    hist_idx = rng.sample(range(n), int(n * HISTORY_SHARE))
    history = sorted({md5(docs["text"][i]) for i in hist_idx})
    return files, history


def md5(text):
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def properties(docs, files, history):
    """Input properties recorded with every run."""
    texts = docs["text"]
    words = set()
    for t in texts:
        words.update(t.split(" "))
    distinct = len(set(texts))
    near = sum(1 for t in texts if "dup" in t.split(" "))
    msgs = [m for f in files for m in f]
    redelivered = 0
    for f in files:
        seen = set()
        for _, i in f:
            redelivered += i in seen
            seen.add(i)
    return {"docs": len(texts), "distinct_words": len(words),
            "exact_dup_share": round(1 - distinct / len(texts), 6),
            "near_dup_pairs": near, "topic_files": len(files),
            "topic_msgs": len(msgs),
            "redelivery_share": round(redelivered / len(msgs), 6),
            "history_fps": len(history)}


def write_documents(docs, path):
    pq.write_table(pa.table({
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": pa.array(docs["text"], pa.string()),
        "lang": pa.array(docs["lang"], pa.string()),
        "source": pa.array(docs["source"], pa.string()),
        "n_chars": pa.array(docs["n_chars"], pa.int64())}), path)


def version():
    """Digest of this generator, so cached inputs follow its changes."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def write_inputs(seed, out_dir):
    """Write the inputs for `seed` under out_dir (skipped when present)."""
    done = os.path.join(out_dir, "inputs.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "topic"))
    docs = corpus(seed)
    write_documents(docs, os.path.join(tmp, "documents.parquet"))
    files, history = topic(seed, docs)
    for k, rows in enumerate(files):
        pq.write_table(pa.table({
            "msg_id": pa.array([m for m, _ in rows], pa.int64()),
            "value": pa.array([frame(m, docs["doc_id"][i], docs["text"][i],
                                     docs["lang"][i]) for m, i in rows],
                              pa.binary())}),
            os.path.join(tmp, "topic", f"f{k:05d}.parquet"))
    pq.write_table(pa.table({"fp": pa.array(history, pa.string())}),
                   os.path.join(tmp, "history.parquet"))
    for name, schema in (("writer.avsc", WRITER_SCHEMA), ("reader.avsc", READER_SCHEMA)):
        with open(os.path.join(tmp, name), "w") as f:
            json.dump(schema, f)
    meta = {"seed": seed, "properties": properties(docs, files, history)}
    with open(os.path.join(tmp, "inputs.json"), "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, out_dir)
    return meta
