"""Seeded JSON-lines input generator for the events-to-DB stream workload.

Builds a backlog of JSON event files from the committed `events` fixture.
Besides the fixture's events (the *clean* lane) it injects a small fixed
share of hostile traffic:

* *duplicate* - an exact re-send of an earlier clean line (at-least-once
  producers re-deliver);
* *corrupt*   - a line that is not a JSON object (truncated envelope or
  garbage text);
* *keyless*   - a valid JSON envelope without `event_id`.

When the backlog needs more events than the fixture holds, the fixture is
replicated with `event_id` and `ts` shifted per replica, so keys stay
unique. File modification times are written explicitly and strictly
increase with the file index, which fixes the order in which a file
stream source (oldest first, one file per trigger) consumes them.

The same seed always gives byte-identical files, mtimes and manifest.
The manifest records how many lines each lane holds so the checks know
what to expect.

Usage: python3 gen.py <fixture events.parquet> <out dir> <seed> <files> <lines per file>
"""
import functools
import json
import os
import random
import sys

import pyarrow.parquet as pq

DUP_SHARE = 0.02
CORRUPT_SHARE = 0.005
KEYLESS_SHARE = 0.005
# file i gets mtime MTIME_BASE + i seconds; a fixed base keeps a seed's
# input identical run to run, and 1 s steps stay far inside a file
# source's default maxFileAge
MTIME_BASE = 1_700_000_000
ID_SHIFT = 10_000_000


@functools.lru_cache(maxsize=None)
def load_fixture(path):
    t = pq.read_table(path, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    ts = t.column("ts")
    # the fixture writes ts as a timestamp (us or ns); the wire format
    # carries epoch nanoseconds as a JSON number
    unit = ts.type.unit
    scale = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}[unit]
    ts_ns = [v * scale for v in ts.cast("int64").to_pylist()]
    rows = list(zip(t.column("event_id").to_pylist(), ts_ns,
                    t.column("user_id").to_pylist(),
                    t.column("event_type").to_pylist(),
                    t.column("value").to_pylist(),
                    t.column("props").to_pylist()))
    rows.sort(key=lambda r: (r[1], r[0]))
    return rows


def envelope(event_id, ts, user_id, event_type, value, props):
    # json.dumps only for the strings; ints and finite floats print as
    # JSON numbers that parse back to the same value
    key = "" if event_id is None else '"event_id":%d,' % event_id
    return '{%s"ts":%d,"user_id":%d,"event_type":%s,"value":%r,"props":%s}' % (
        key, ts, user_id, json.dumps(event_type), value, json.dumps(props))


def generate(fixture, out_dir, seed, files, per_file):
    rows = load_fixture(fixture)
    n = len(rows)
    span_ns = rows[-1][1] - rows[0][1] + 10**9
    rng = random.Random(seed)
    start = rng.randrange(n)
    os.makedirs(out_dir, exist_ok=True)
    lanes = {"clean": 0, "duplicate": 0, "corrupt": 0, "keyless": 0}
    sent = []  # clean lines already emitted, the pool re-sends draw from
    k = 0      # clean events taken from the (rotated, replicated) fixture
    n_dup = round(per_file * DUP_SHARE)
    n_cor = round(per_file * CORRUPT_SHARE)
    n_key = round(per_file * KEYLESS_SHARE)
    for f in range(files):
        kinds = (["duplicate"] * n_dup + ["corrupt"] * n_cor + ["keyless"] * n_key
                 + ["clean"] * (per_file - n_dup - n_cor - n_key))
        rng.shuffle(kinds)
        lines = []
        for kind in kinds:
            if kind == "duplicate" and not sent:
                kind = "clean"
            if kind == "clean":
                pos = start + k
                rep = pos // n
                eid, ts, uid, et, val, props = rows[pos % n]
                line = envelope(eid + rep * ID_SHIFT, ts + rep * span_ns, uid, et, val, props)
                sent.append(line)
                k += 1
            elif kind == "duplicate":
                line = sent[rng.randrange(max(0, len(sent) - 5000), len(sent))]
            elif kind == "corrupt":
                src = sent[-1] if sent else envelope(0, 0, 0, "view", 0.0, "{}")
                if rng.random() < 0.5:
                    # a truncated envelope: no prefix of an object is valid JSON
                    line = src[:rng.randrange(2, len(src) - 1)]
                else:
                    line = "#garbage-%d %s" % (rng.randrange(10**9), src[5:20])
            else:
                eid, ts, uid, et, val, props = rows[rng.randrange(n)]
                line = envelope(None, ts, uid, et, val, props)
            lanes[kind] += 1
            lines.append(line)
        path = os.path.join(out_dir, "part-%05d.jsonl" % f)
        with open(path, "w") as fh:
            fh.write("\n".join(lines))
            fh.write("\n")
        os.utime(path, (MTIME_BASE + f, MTIME_BASE + f))
    manifest = {"seed": seed, "files": files, "lines_per_file": per_file,
                "lines": files * per_file, "lanes": lanes}
    with open(out_dir.rstrip("/") + ".json", "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return manifest


if __name__ == "__main__":
    fixture, out, seed, files, per_file = sys.argv[1:6]
    print(json.dumps(generate(fixture, out, int(seed), int(files), int(per_file))))
