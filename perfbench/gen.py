"""Seeded input generator for the graft benchmark.

Runs as its own step, before any timer: `python3 perfbench/gen.py <workload>
--seed N [--size S] [--out DIR]`. One process, one thread. The same
(workload, seed, size) always yields byte-identical files; the manifest
records their sha256 (`input_hash`) so two runs can show they read the same
inputs.

Besides the inputs, each workload directory holds `expected.json`: the
planted truth (xcom counts, sink row count, order-independent sink content
hash, curate stage counts). It is computed here from the generated records,
with no graft code involved, and checked against graft's outputs by
`oracle.py`.
"""

import argparse
import datetime as dt
import hashlib
import json
import os
import random
import shutil
import struct
import sys
import zoneinfo

import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2

# Default input sizes: messages for the ETL workloads, documents for curation.
SIZES = {
    "etl_json_assign": 20_000,
    "etl_avro_stream": 24_000,
    "curate_neardup": 6_000,
}
WORKLOADS = tuple(SIZES)

OSLO = zoneinfo.ZoneInfo("Europe/Oslo")
EPOCH = dt.datetime(1970, 1, 1)
BASE_MS = 1717372800000  # 2024-06-03T00:00:00Z
SEP = "\x1f"
HASH_MOD = 1 << 64

# Transform rule table of FIXTURES §4, shared by both ETL workloads.
TRANSFORM_YAML = """transform:
  - src: kafka_key
    dst: kafka_key
  - src: kafka_offset
    dst: kafka_offset
  - src: kafka_partition
    dst: kafka_partition
  - src: kafka_timestamp
    dst: kafka_timestamp
    fun: int-unix-ms -> datetime-no
  - src: kafka_topic
    dst: kafka_topic
  - src: kafka_hash
    dst: kafka_hash
  - src: kafka_message
    dst: kafka_message
  - src: $TESTERSEN
    dst: KILDESYSTEM
  - src: $$BATCH_TIME
    dst: lastet_tid
"""

# Columns covered by the sink content hash, in this order. `lastet_tid` is
# the run's batch time and differs per run by design, so it is left out.
HASH_COLUMNS = ("kafka_key", "kafka_offset", "kafka_partition", "kafka_timestamp",
                "kafka_topic", "kafka_hash", "kafka_message", "KILDESYSTEM")


def oslo_wall_us(ms):
    """`int-unix-ms -> datetime-no`: the Oslo wall-clock reading of an
    epoch-ms instant, stored as if it were UTC, in epoch microseconds."""
    wall = dt.datetime.fromtimestamp(ms / 1000, tz=OSLO).replace(tzinfo=None)
    return (wall - EPOCH) // dt.timedelta(microseconds=1)


def row_hash(values):
    """md5 of one sink row's canonical text, as an unsigned 64-bit int. NULL
    renders as `\\N`; the sink hash is the sum of these mod 2^64, so it does
    not depend on row order (oracle.py computes the same in DuckDB)."""
    text = SEP.join("\\N" if v is None else str(v) for v in values)
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:16], 16)


def dumps(obj):
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def files_hash(root):
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------- etl_json_assign

JSON_PAYLOAD_DDL = (
    "id BIGINT, value STRING, string STRING, enum STRING, "
    "person STRUCT<id: BIGINT, name: STRING>, "
    "nested STRUCT<key: STRING, k2: STRING>, nested2 STRUCT<key: STRING, k2: STRING>, "
    "nested3 STRUCT<key: STRING, keep: STRING>, "
    "nested4 ARRAY<STRUCT<index: STRING, tag: STRING>>, "
    "nested5 ARRAY<STRUCT<key1: STRING, key2: STRING>>, "
    "nested6 ARRAY<STRUCT<nested7: ARRAY<STRUCT<key: STRING, other: STRING>>>>")
JSON_TOPIC = "bench_events"
JSON_PARTITIONS = 8  # MessageSource.fromEvents' default
ALLOWED_ENUMS = ("INTERESTING", "ALSO")
N_PERSONS = 5000


def json_yaml():
    return f"""source:
  topic: {JSON_TOPIC}
  schema: json
  strategy: assign
  keypath-seperator: /
  message-fields-filter:
    - string
    - nested3/key
    - nested6/nested7/key
  flag-field-config:
    - nested
    - nested5/key2
    - nested4/index
  message-filters:
    - key: enum
      allowed_value: {ALLOWED_ENUMS[0]}
    - key: enum
      allowed_value: {ALLOWED_ENUMS[1]}
target:
  table: "@SINK@"
  skip-duplicates-with:
    - kafka_hash
  k6-filter:
    filter-table: k6dim
    filter-col: person_id
    col: person.id
    timestamp: kafka_timestamp
{TRANSFORM_YAML}"""


def json_payload(rng, i, pid):
    """One valid message payload, shaped like FIXTURES §2 plus an F3 enum and
    the k6 person id. Key order is the insertion order a producer emits."""
    enum = rng.choices(("INTERESTING", "ALSO", "NOT_RELEVANT"), (60, 15, 25))[0]
    return {
        "id": i,
        "value": f"Message {i}",
        "string": "hei",
        "enum": enum,
        "person": {"id": pid, "name": f"p{pid}"},
        "nested": None if rng.random() < 0.1 else {"key": "test", "k2": f"v{i % 97}"},
        "nested2": None,
        "nested3": {"key": "test", "keep": f"k{i % 13}"},
        "nested4": [{"index": rng.choice(("test", None)), "tag": f"t{j}"}
                    for j in range(rng.randint(0, 3))],
        "nested5": [{"key1": "test"}, {"key2": "test"}, {"key2": None}],
        "nested6": [{"nested7": [{"key": "val", "other": f"o{i % 7}"}]}],
        "extra": "not in the payload schema",
    }


def json_message_after_ops(p):
    """kafka_message as graft's JSON envelope renders it: the payload read
    with the payload schema, F1 drops and F2 flags applied, serialized in
    schema order with NULL fields omitted."""
    flag = lambda v: 0 if v is None else 1
    out = {"id": p["id"], "value": p["value"], "enum": p["enum"],
           "person": {"id": p["person"]["id"], "name": p["person"]["name"]},
           "nested": flag(p["nested"]),
           "nested3": {"keep": p["nested3"]["keep"]},
           "nested4": [{"index": flag(e["index"]), "tag": e["tag"]} for e in p["nested4"]],
           "nested5": [dict(({"key1": e["key1"]} if e.get("key1") is not None else {}),
                            key2=flag(e.get("key2"))) for e in p["nested5"]],
           "nested6": [{"nested7": [{"other": x["other"]} for x in e["nested7"]]}
                       for e in p["nested6"]]}
    return dumps(out)


def gen_etl_json_assign(rng, n, out):
    start_i, end_i = int(n * 0.03), int(n * 0.97)
    ts_ms = [BASE_MS + i * 37 + rng.randint(0, 30) for i in range(n)]
    start_ms, end_ms = ts_ms[start_i], ts_ms[end_i]

    # k6 screening dimension: screened for the whole era (masked), screened
    # only in the 2000s (interval check must NOT mask 2024 rows), and code 5
    # (not a screening code, dropped by the skjermet_kode filter).
    day = lambda s: dt.date.fromisoformat(s)
    dim = []
    for pid in range(1, N_PERSONS + 1):
        if pid % 50 == 0:
            dim.append((pid, day("1900-01-01"), day("9999-12-31"), 6 if pid % 100 else 7))
        elif pid % 50 == 25:
            dim.append((pid, day("2001-01-01"), day("2010-12-31"), 6))
        elif pid % 50 == 10:
            dim.append((pid, day("1900-01-01"), day("9999-12-31"), 5))
    masked_pids = {pid for pid in range(1, N_PERSONS + 1) if pid % 50 == 0}
    os.makedirs(os.path.join(out, "k6dim"))
    pq.write_table(pa.table({
        "person_id": pa.array([d[0] for d in dim], pa.int64()),
        "gyldig_fra_dato": pa.array([d[1] for d in dim], pa.date32()),
        "gyldig_til_dato": pa.array([d[2] for d in dim], pa.date32()),
        "skjermet_kode": pa.array([d[3] for d in dim], pa.int32()),
    }), os.path.join(out, "k6dim", "part-0.parquet"))

    user_ids, props, rows = [], [], []
    for i in range(n):
        pid = rng.randint(1, N_PERSONS)
        kind = rng.random()
        if kind < 0.02:
            value, message, error = None, None, False
        elif kind < 0.05:
            p = json_payload(rng, i, pid)
            # Truncated, so malformed JSON. The cut falls after the id's
            # comma, so every value stays distinct (dedup is on its hash).
            value = dumps(p)[: len(f'{{"id":{i},') + rng.randint(4, 50)]
            message, error = None, True
        else:
            p = json_payload(rng, i, pid)
            value, error = dumps(p), False
            message = json_message_after_ops(p) if p["enum"] in ALLOWED_ENUMS else None
        user_ids.append(pid)
        props.append(value)
        if start_i <= i < end_i:
            vhash = None if value is None else hashlib.sha256(value.encode()).hexdigest()
            rows.append({"value": value, "error": error, "filtered": message is None,
                         "masked": message is not None and pid in masked_pids,
                         "row": (str(pid), i, pid % JSON_PARTITIONS, oslo_wall_us(ts_ms[i]),
                                 JSON_TOPIC, vhash, None if pid in masked_pids else message,
                                 "TESTERSEN")})
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "user_id": pa.array(user_ids, pa.int64()),
        "props": pa.array(props, pa.string()),
        "ts": pa.array([t * 1_000_000 for t in ts_ms], pa.int64()),
    }), os.path.join(out, "events.parquet"), row_group_size=1 << 20)

    # Pre-seeded sink: a fixed share of the interval's non-null messages
    # already landed by an earlier run (skip-duplicates-with: kafka_hash).
    candidates = [r for r in rows if r["value"] is not None]
    seeded = rng.sample(range(len(candidates)), int(len(candidates) * 0.2))
    seeded_rows = [candidates[k]["row"] for k in sorted(seeded)]
    os.makedirs(os.path.join(out, "preseed"))
    cols = list(zip(*seeded_rows))
    pq.write_table(pa.table({
        "kafka_key": pa.array(cols[0], pa.string()),
        "kafka_offset": pa.array(cols[1], pa.int64()),
        "kafka_partition": pa.array(cols[2], pa.int32()),
        "kafka_timestamp": pa.array(cols[3], pa.timestamp("us")),
        "kafka_topic": pa.array(cols[4], pa.string()),
        "kafka_hash": pa.array(cols[5], pa.string()),
        "kafka_message": pa.array(cols[6], pa.string()),
        "KILDESYSTEM": pa.array(cols[7], pa.string()),
        "lastet_tid": pa.array([dt.datetime(2024, 1, 1)] * len(seeded_rows), pa.timestamp("us")),
    }), os.path.join(out, "preseed", "part-00000-preseed.parquet"))

    events = len(rows)
    errors = sum(r["error"] for r in rows)
    empty = sum(r["filtered"] for r in rows)
    null_values = sum(r["value"] is None for r in rows)
    # Dedup on kafka_hash: every NULL-valued message shares the NULL key, so
    # the in-batch dropDuplicates keeps exactly one of them, and a NULL key
    # never matches the sink in the anti-join.
    written = (len(candidates) - len(seeded_rows)) + (1 if null_values else 0)
    keyed = [r["row"] for r in rows if r["value"] is not None]
    with open(os.path.join(out, "config.yaml"), "w") as f:
        f.write(json_yaml())
    return {
        "rows": n,
        "env": {"DATA_INTERVAL_START": str(start_ms), "DATA_INTERVAL_END": str(end_ms),
                "GRAFT_PAYLOAD_SCHEMA": JSON_PAYLOAD_DDL},
        "expected": {
            "event_count": events, "empty_count": empty, "non_empty_count": events - empty,
            "error_count": errors, "written_to_db_count": written,
            "sink_rows": len(seeded_rows) + written,
            "sink_null_key_rows": 1 if null_values else 0,
            "sink_hash": str(sum(row_hash(r) for r in keyed) % HASH_MOD),
            "masked_rows": sum(r["masked"] for r in rows),
            "filtered_rows": empty - errors - null_values,
        },
    }


# ---------------------------------------------------------------- etl_avro_stream

AVRO_TOPIC = "bench_avro"
AVRO_PARTITIONS = 4
AVRO_FILES = 12
AVRO_PAYLOAD_DDL = "id BIGINT, user STRING, amount BIGINT, status STRING, channel STRING"
AVRO_SCHEMAS = {
    7: {"type": "record", "name": "Event", "namespace": "bench", "fields": [
        {"name": "id", "type": "long"}, {"name": "user", "type": "string"},
        {"name": "amount", "type": "long"}, {"name": "status", "type": "string"}]},
    8: {"type": "record", "name": "Event", "namespace": "bench", "fields": [
        {"name": "id", "type": "long"}, {"name": "user", "type": "string"},
        {"name": "amount", "type": "long"}, {"name": "status", "type": "string"},
        {"name": "channel", "type": ["null", "string"], "default": None}]},
}
UNREGISTERED_ID = 999


def avro_yaml():
    return f"""source:
  topic: {AVRO_TOPIC}
  schema: avro
  strategy: subscribe
target:
  table: "@SINK@"
  skip-duplicates-with:
    - kafka_topic
    - kafka_partition
    - kafka_offset
{TRANSFORM_YAML}"""


def zigzag(n):
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def avro_str(s):
    b = s.encode("utf-8")
    return zigzag(len(b)) + b


def avro_datum(schema_id, rec):
    body = zigzag(rec["id"]) + avro_str(rec["user"]) + zigzag(rec["amount"]) + avro_str(rec["status"])
    if schema_id == 8:
        body += zigzag(0) if rec["channel"] is None else zigzag(1) + avro_str(rec["channel"])
    return body


def gen_etl_avro_stream(rng, n, out):
    topic_dir = os.path.join(out, "topic")
    os.makedirs(topic_dir)
    next_offset = [0] * AVRO_PARTITIONS
    delivered = []  # every original message, for replays
    keyed_rows = {}
    events = errors = 0
    per_file = n // AVRO_FILES
    for f in range(AVRO_FILES):
        batch = []
        for _ in range(per_file):
            if delivered and f > 0 and rng.random() < 0.04:
                # At-least-once redelivery: a byte-identical copy of an earlier
                # file's message (same topic/partition/offset).
                m = delivered[rng.randrange(len(delivered))]
                if m["file"] < f:
                    batch.append(m)
                    continue
            part = rng.randrange(AVRO_PARTITIONS)
            off = next_offset[part]
            next_offset[part] += 1
            i = len(delivered)
            uid = rng.randint(1, 9999)
            sid = rng.choice((7, 8))
            rec = {"id": i, "user": f"u{uid}", "amount": rng.randint(-50_000, 50_000),
                   "status": rng.choice(("NEW", "PAID", "SHIPPED", "VOID")),
                   "channel": rng.choice((None, "web", "app")) if sid == 8 else None}
            datum = avro_datum(sid, rec)
            kind = rng.random()
            if kind < 0.02:
                value, bad = b"\x01" + struct.pack(">i", sid) + datum, True
            elif kind < 0.04:
                value, bad = b"\x00" + struct.pack(">i", UNREGISTERED_ID) + datum, True
            else:
                value, bad = b"\x00" + struct.pack(">i", sid) + datum, False
            ts = BASE_MS + i * 41 + rng.randint(0, 40)
            msg = None if bad else dumps({k: v for k, v in rec.items() if v is not None})
            m = {"file": f, "key": str(uid).encode(), "value": value, "partition": part,
                 "offset": off, "timestamp": ts, "bad": bad,
                 "row": (str(uid), off, part, oslo_wall_us(ts), AVRO_TOPIC,
                         hashlib.sha256(value[5:]).hexdigest(), msg, "TESTERSEN")}
            delivered.append(m)
            keyed_rows[(part, off)] = m["row"]
            batch.append(m)
        events += len(batch)
        errors += sum(m["bad"] for m in batch)
        pq.write_table(pa.table({
            "key": pa.array([m["key"] for m in batch], pa.binary()),
            "value": pa.array([m["value"] for m in batch], pa.binary()),
            "topic": pa.array([AVRO_TOPIC] * len(batch), pa.string()),
            "partition": pa.array([m["partition"] for m in batch], pa.int32()),
            "offset": pa.array([m["offset"] for m in batch], pa.int64()),
            "timestamp": pa.array([m["timestamp"] for m in batch], pa.int64()),
        }), os.path.join(topic_dir, f"part-{f:05d}.parquet"))
    with open(os.path.join(out, "config.yaml"), "w") as f:
        f.write(avro_yaml())
    os.makedirs(os.path.join(out, "schemas"))
    for sid, schema in AVRO_SCHEMAS.items():
        with open(os.path.join(out, "schemas", f"{sid}.avsc"), "w") as f:
            json.dump(schema, f)
    written = len(keyed_rows)
    return {
        "rows": events,
        "files": AVRO_FILES,
        "env": {"GRAFT_PAYLOAD_SCHEMA": AVRO_PAYLOAD_DDL},
        "expected": {
            "event_count": events, "empty_count": errors, "non_empty_count": events - errors,
            "error_count": errors, "written_to_db_count": written,
            "sink_rows": written, "sink_null_key_rows": 0,
            "sink_hash": str(sum(row_hash(r) for r in keyed_rows.values()) % HASH_MOD),
        },
    }


# ---------------------------------------------------------------- curate_neardup

DOC_WORDS = 100
SHORT_WORDS = 8
NEAR_THRESHOLD = 0.7
NEAR_EDITS = 3  # words replaced per near-duplicate: Jaccard of 3-shingles ~0.83


def curate_yaml(docs_path):
    return f"""input: {docs_path}
output: "@OUT@"
id-column: doc_id
text-column: text
filters:
  min-words: 20
  max-words: 1000
  min-quality: 0.3
dedup:
  exact: true
  near-threshold: {NEAR_THRESHOLD}
split:
  - train: 90
  - test: 10
"""


def gen_curate_neardup(rng, n, out):
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = set()
    while len(vocab) < 4000:
        vocab.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    vocab = sorted(vocab)
    n_short, n_exact, n_near = n // 100, n * 8 // 100, n * 8 // 100
    n_orig = n - n_short - n_exact - n_near
    origs = [[rng.choice(vocab) for _ in range(DOC_WORDS)] for _ in range(n_orig)]
    sources = rng.sample(range(n_orig), n_exact + n_near)
    texts = [" ".join(w) for w in origs]
    texts += [texts[s] for s in sources[:n_exact]]
    for s in sources[n_exact:]:
        words = list(origs[s])
        for pos in rng.sample(range(DOC_WORDS), NEAR_EDITS):
            words[pos] = rng.choice([w for w in rng.sample(vocab, 2) if w != words[pos]])
        texts.append(" ".join(words))
    texts += [" ".join(rng.choice(vocab) for _ in range(SHORT_WORDS)) for _ in range(n_short)]
    ids = list(range(n))
    rng.shuffle(ids)
    path = os.path.join(out, "docs.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)
    with open(os.path.join(out, "config.yaml"), "w") as f:
        f.write(curate_yaml("@INPUT@/docs.parquet"))
    tokens = n_short * SHORT_WORDS + (n - n_short) * DOC_WORDS
    return {
        "rows": n,
        "tokens": tokens,
        "env": {},
        "expected": {
            "input": n,
            "after_filters": n - n_short,
            "after_exact_dedup": n - n_short - n_exact,
            "planted_near_dups": n_near,
        },
    }


GENERATORS = {
    "etl_json_assign": gen_etl_json_assign,
    "etl_avro_stream": gen_etl_avro_stream,
    "curate_neardup": gen_curate_neardup,
}


def input_dir(cache_root, workload, seed, size):
    return os.path.join(cache_root, f"{workload}-s{seed}-n{size}-g{GEN_VERSION}")


def generate(workload, seed, size=None, cache_root=".perfbench/inputs"):
    """Generate (or reuse from the cache) the inputs of one workload; returns
    the manifest. The manifest is written last, so a present manifest means
    a complete input directory."""
    size = size or SIZES[workload]
    out = input_dir(cache_root, workload, seed, size)
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = random.Random(f"{workload}:{seed}:{size}")
    info = GENERATORS[workload](rng, size, tmp)
    # Settings the harness passes to the program as environment variables.
    with open(os.path.join(tmp, "env.properties"), "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in info.pop("env").items())
    manifest = dict(info, workload=workload, seed=seed, size=size, gen_version=GEN_VERSION,
                    input_hash=files_hash(tmp), dir=os.path.abspath(out))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(os.path.join(out, "config.yaml")) as f:
        cfg = f.read()
    with open(os.path.join(out, "config.yaml"), "w") as f:
        f.write(cfg.replace("@INPUT@", os.path.abspath(out)))
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=int)
    ap.add_argument("--out", default=".perfbench/inputs")
    args = ap.parse_args(argv)
    m = generate(args.workload, args.seed, args.size, args.out)
    print(json.dumps({k: m[k] for k in ("workload", "seed", "size", "rows", "input_hash", "dir")}))


if __name__ == "__main__":
    sys.exit(main())
