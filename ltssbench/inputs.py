"""Seeded inputs of the three workloads.

Everything here is a pure function of the seed and the size profile, so the
same seed always gives the same files.
"""
import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture")

# The fixture's value domains (FIXTURES.md: entity_id = event_type '.' user_id).
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
USERS = 150
START = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
SPAN_DAYS = 120  # five 30-day chunks, so chunk exclusion prunes
CHUNK_US = 2592000000000  # LtssConfig.DefaultChunkUs
# The fixture's own `ts` type (timestamp[us], no time zone), so the
# dashboard table takes the program's read path for real fixture tables.
TS_TYPE = pq.read_schema(os.path.join(FIXTURE, "events.parquet")).field("ts").type

# Entity filter of the ingest workload (reference README include/exclude).
INCLUDE_DOMAINS = ["click", "view", "purchase", "signup"]
INCLUDE_GLOBS = ["error.1*"]
EXCLUDE_ENTITIES = ["click.13"]

# Row kinds planted by the ingest generator and their shares. The first
# four are stored; the other four are dropped by S2 (null value, null
# user_id), P4 (non-JSON props) and F2 (excluded entity).
KINDS = ["plain", "located", "zero_latlon", "nested_latlon",
         "null_value", "null_user", "bad_json", "excluded"]
SHARES = [0.48, 0.25, 0.04, 0.04, 0.04, 0.04, 0.04, 0.07]
STORED = {"plain", "located", "zero_latlon", "nested_latlon"}
DROPPED_S2_F2 = ["null_value", "null_user", "excluded"]
DROPPED_P4 = ["bad_json"]


def _kept(entity):
    domain, user = entity.split(".")
    if entity in EXCLUDE_ENTITIES:
        return False
    return domain in INCLUDE_DOMAINS or (domain == "error" and user.startswith("1"))


ALL_ENTITIES = [f"{t}.{u}" for t in EVENT_TYPES for u in range(USERS)]
KEPT = [e for e in ALL_ENTITIES if _kept(e)]
DROPPED = [e for e in ALL_ENTITIES if not _kept(e)]


def chunk_of(epoch_us):
    """UTC date of the chunk start, as LtssSink.chunkCol computes it."""
    start_us = epoch_us - epoch_us % CHUNK_US
    return (dt.date(1970, 1, 1) + dt.timedelta(days=start_us // 86400000000)).isoformat()


def _ts_ms(rng, n):
    start_ms = int(START.timestamp() * 1000)
    return start_ms + rng.integers(0, SPAN_DAYS * 86400000, size=n)


def _iso(ms):
    t = dt.datetime.fromtimestamp(ms / 1000.0, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def ingest_files(rng, out_dir, files, rows_per_file, first_id):
    """Writes `files` JSON-lines event files; returns the expected outcome."""
    os.makedirs(out_dir, exist_ok=True)
    expected = {"input_rows": 0, "rows": 0, "located": 0, "chunks": {},
                "planted": {k: 0 for k in KINDS}}
    event_id = first_id
    for f in range(files):
        n = rows_per_file
        kinds = rng.choice(len(KINDS), size=n, p=SHARES)
        ts = _ts_ms(rng, n)
        values = np.round(rng.uniform(0.01, 500.0, size=n), 2)
        ks = rng.integers(0, 100, size=n)
        kept_pick = rng.integers(0, len(KEPT), size=n)
        drop_pick = rng.integers(0, len(DROPPED), size=n)
        lat = np.round(rng.uniform(1.0, 80.0, size=n), 4)
        lon = np.round(rng.uniform(1.0, 170.0, size=n), 4)
        lines = []
        for i in range(n):
            kind = KINDS[kinds[i]]
            entity = DROPPED[drop_pick[i]] if kind == "excluded" else KEPT[kept_pick[i]]
            etype, user = entity.split(".")
            value = "null" if kind == "null_value" else repr(float(values[i]))
            user_json = "null" if kind == "null_user" else user
            if kind == "located":
                props = json.dumps({"k": int(ks[i]), "latitude": float(lat[i]), "longitude": float(lon[i])})
            elif kind == "zero_latlon":
                props = json.dumps({"k": int(ks[i]), "latitude": 0.0 if i % 2 else float(lat[i]),
                                    "longitude": 0.0})
            elif kind == "nested_latlon":
                props = json.dumps({"k": int(ks[i]), "geo": {"latitude": float(lat[i]),
                                                             "longitude": float(lon[i])}})
            elif kind == "bad_json":
                props = '{"k": %d, "latitude": ' % ks[i]
            else:
                props = json.dumps({"k": int(ks[i])})
            lines.append('{"event_id":%d,"ts":"%s","user_id":%s,"event_type":"%s","value":%s,"props":%s}'
                         % (event_id, _iso(int(ts[i])), user_json, etype, value, json.dumps(props)))
            event_id += 1
            expected["planted"][kind] += 1
            if kind in STORED:
                expected["rows"] += 1
                c = chunk_of(int(ts[i]) * 1000)
                expected["chunks"][c] = expected["chunks"].get(c, 0) + 1
                if kind == "located":
                    expected["located"] += 1
        expected["input_rows"] += n
        with open(os.path.join(out_dir, f"events-{f:05d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return expected


def make_ingest(seed, data_dir, profile):
    rng = np.random.default_rng([seed, 1])
    warm = ingest_files(rng, os.path.join(data_dir, "warm"), profile["warm_files"],
                        profile["warm_rows"], 0)
    backlog = ingest_files(rng, os.path.join(data_dir, "backlog"), profile["files"],
                           profile["rows_per_file"], 10 ** 9)
    return {"warm": warm, "backlog": backlog}


def make_dashboard(seed, data_dir, profile, setups):
    """A seeded `events` table with the fixture's value domains over five chunks."""
    rng = np.random.default_rng([seed, 2])
    n = profile["events"]
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=n)]
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(_ts_ms(rng, n) * 1000, type=pa.timestamp("us")).cast(TS_TYPE),
        "user_id": pa.array(rng.integers(0, USERS, size=n, dtype=np.int64)),
        "event_type": pa.array(types),
        "value": pa.array(np.round(rng.uniform(0.01, 500.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })
    for k in range(setups):
        d = os.path.join(data_dir, f"rep{k}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "events.parquet"))


def make_curation(data_dir, setups):
    """The read-only fixture, copied once per setup (the program memoises its
    layouts per dataset path, so each setup needs its own path)."""
    for k in range(setups):
        d = os.path.join(data_dir, f"rep{k}")
        os.makedirs(d, exist_ok=True)
        for name in sorted(os.listdir(FIXTURE)):
            if name.endswith(".parquet"):
                shutil.copyfile(os.path.join(FIXTURE, name), os.path.join(d, name))
