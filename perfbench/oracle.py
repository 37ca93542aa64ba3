"""Output checks: DuckDB oracle SQL for batch outputs, exactly-once and
status checks for the ingest topic.

The value encoding follows scripts/oracle_check.py: the Spark side is read
with pandas/pyarrow, the oracle side from DuckDB's `.df()`, each value is
encoded per dtype, columns are sorted by name and rows by their encoding.
"""
import decimal
import glob
import hashlib
import json
import math
import os
import re
import struct

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

DUCKDB_CONFIG = {"memory_limit": "1GB", "threads": 2}


def enc(v):
    if v is None:
        return "None"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (np.ndarray, list)):
        return "[" + ",".join(enc(x) for x in v) + "]"
    if v is pd.NaT:
        return "None"
    return str(v)


def canon_digest(df):
    """(sorted column names, row count, sha256 of the sorted encoded rows)."""
    cols = sorted(df.columns)
    rows = sorted(tuple(enc(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(repr(rows).encode()).hexdigest()
    return {"cols": cols, "rows": len(rows), "sha": h}


CTE_HEAD = re.compile(r"(?m)^(?:WITH RECURSIVE |WITH )?(\w+) AS \(")


def materialized(sql):
    """The same query with every non-recursive CTE marked MATERIALIZED.

    DuckDB otherwise inlines a CTE at each reference, and the composed
    pipeline's oracle references its stage CTEs so often that it runs out
    of memory even on 500 documents; materialized, it takes seconds."""
    heads = list(CTE_HEAD.finditer(sql))
    out, pos = [], 0
    for i, h in enumerate(heads):
        name = h.group(1)
        body_end = heads[i + 1].start() if i + 1 < len(heads) else len(sql)
        recursive = re.search(rf"\b{name}\b", sql[h.end():body_end])
        out.append(sql[pos:h.end() - 1])
        out.append("(" if recursive else "MATERIALIZED (")
        pos = h.end()
    out.append(sql[pos:])
    return "".join(out)


def expected(inputs, name, sql):
    """Oracle digest of one gate on `inputs`, cached next to the inputs."""
    cache = os.path.join(inputs, f"oracle-{name}.json")
    key = hashlib.sha256(sql.encode()).hexdigest()
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("sql") == key:
            return c["digest"]
    con = duckdb.connect(config=DUCKDB_CONFIG)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(inputs, 'documents.parquet')}'")
    digest = canon_digest(con.execute(materialized(sql)).df())
    con.close()
    with open(cache + ".tmp", "w") as f:
        json.dump({"sql": key, "digest": digest}, f)
    os.replace(cache + ".tmp", cache)
    return digest


def check_outputs(out_dir, checks):
    """checks: list of (name, inputs dir, oracle sql). Returns the names
    whose Spark output differs from the oracle."""
    bad = []
    for name, inputs, sql in checks:
        got = canon_digest(pd.read_parquet(glob.glob(f"{out_dir}/{name}/*.parquet")))
        if got != expected(inputs, name, sql):
            bad.append(name)
    return bad


# ---------------------------------------------------------------- ingest

class Reader:
    def __init__(self, b, pos=0):
        self.b, self.pos = b, pos

    def long(self):
        shift = n = 0
        while True:
            c = self.b[self.pos]
            self.pos += 1
            n |= (c & 0x7F) << shift
            shift += 7
            if not c & 0x80:
                return (n >> 1) ^ -(n & 1)

    def string(self):
        n = self.long()
        s = self.b[self.pos:self.pos + n].decode("utf-8")
        self.pos += n
        return s


def read_avro(schema, r):
    """Decode one value of an Avro schema: the records, unions, longs,
    strings and nulls the benchmark's schemas use."""
    if isinstance(schema, list):
        return read_avro(schema[r.long()], r)
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "record":
        return {f["name"]: read_avro(f["type"], r) for f in schema["fields"]}
    if t in ("long", "int"):
        return r.long()
    if t == "string":
        return r.string()
    if t == "null":
        return None
    raise ValueError(f"unsupported Avro type {t}")


def unframe(b):
    """(schema id, payload reader) of a Confluent-framed message."""
    if b[0] != 0:
        raise ValueError("bad magic byte")
    return struct.unpack(">i", b[1:5])[0], Reader(b, 5)


def check_ingest(inputs, session, first_file, out_schemas):
    """Check one session's committed output. Returns (attempted, failed,
    file index -> batch id, committed docs)."""
    with open(os.path.join(inputs, "writer.avsc")) as f:
        writer = json.load(f)
    hist = set(pq.read_table(os.path.join(inputs, "history.parquet"))
               .column("fp").to_pylist())
    topic = sorted(os.listdir(os.path.join(inputs, "topic")))
    names = topic[first_file:first_file + len(session["due"])]
    offered, file_of = {}, {}
    for i, n in enumerate(names):
        t = pq.read_table(os.path.join(inputs, "topic", n)).to_pydict()
        for v in t["value"]:
            _, r = unframe(v)
            m = read_avro(writer, r)
            offered[m["msg_id"]] = m
            file_of[m["msg_id"]] = i
    files = glob.glob(os.path.join(session["out_dir"], "*.parquet"))
    out = pq.read_table(files).to_pydict() if files else {"msg_id": []}
    rows = {}
    failed = 0
    for k in range(len(out["msg_id"])):
        row = {c: out[c][k] for c in out}
        if row["msg_id"] in rows or row["msg_id"] not in offered:
            failed += 1  # committed twice, or never offered
        rows[row["msg_id"]] = row
    file_batch = {}
    for mid, row in rows.items():
        if mid in file_of:
            b = file_batch.setdefault(file_of[mid], row["batch_id"])
            failed += b != row["batch_id"]  # a file split over batches
    # expected status: Dedup.incrementalExact over each micro-batch
    batches = {}
    for mid in offered:
        b = file_batch.get(file_of[mid])
        if b is not None:
            batches.setdefault(b, []).append(mid)
    want = {}
    for mids in batches.values():
        first = {}
        for mid in sorted(mids):
            fp = hashlib.md5(offered[mid]["text"].encode("utf-8")).hexdigest()
            if fp in hist:
                want[mid] = "dup_hist"
            else:
                want[mid] = "kept" if first.setdefault(fp, mid) == mid else "dup_batch"
    committed = 0
    for mid, m in offered.items():
        row = rows.get(mid)
        if row is None or row["status"] != want.get(mid) or row["doc_id"] != m["doc_id"]:
            failed += 1
            continue
        payload = row["payload"]
        if row["status"] != "kept":
            failed += payload is not None
            committed += 1
            continue
        try:
            sid, r = unframe(payload)
            d = read_avro(out_schemas[sid], r)
            ok = (d["doc_id"], d["text"], d["lang"], d["source"]) == \
                (m["doc_id"], m["text"], m["lang"], "ingest")
        except (KeyError, ValueError, IndexError, TypeError):
            ok = False
        failed += not ok
        committed += ok
    return len(offered), failed, file_batch, committed
