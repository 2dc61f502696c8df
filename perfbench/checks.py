"""Output checks, run after the timed region.

ingest     the written store against the generator's manifest
viewer     every distinct query against its DuckDB twin over the store
operators  every SparkEntry result against SparkEntry.oracleSql in DuckDB,
           compared by the rule of tools/check_oracle.py
A mismatched operation is returned in `bad_ops`; run.py counts all of its
samples as failed and excludes them from every timing.
"""
import json
import math
import os
from collections import Counter


class Verdict:
    def __init__(self):
        self.errors = []
        self.bad_ops = set()
        self.info = {}

    @property
    def ok(self):
        return not self.errors

    def fail(self, msg, op=None):
        self.errors.append(msg)
        if op is not None:
            self.bad_ops.add(op)


def _lines(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def check(workload, work, res):
    v = Verdict()
    for s in res["samples"]:
        if s["ms"] is None:
            v.fail(f"{s['name']} threw: {s['error']}")
    try:
        {"ingest": check_ingest, "viewer": check_viewer,
         "operators": check_operators}[workload](work, res, v)
    except Exception as e:      # a check that cannot run is a failed check
        v.fail(f"check crashed: {type(e).__name__}: {e}")
        v.bad_ops.update(s["name"] for s in res["samples"])
    return v


# ---------------------------------------------------------------- ingest

def app_protocol(labels):
    """A flow's application protocol from graft's labels: the label that
    is not a transport, else the transport ("udp", "icmp")."""
    app = sorted(set(labels) - {"tcp", "udp"})
    return app[0] if app else ("udp" if "udp" in labels else "none")


def flows_of(rows):
    """Session rows grouped by flow (unordered endpoint pair + protocol):
    (segments, packets, bytes, protocol labels, days)."""
    flows = {}
    for src, sport, dst, dport, proto, packets, nbytes, labels, _, day in rows:
        key = (proto,) + tuple(sorted([(src, sport), (dst, dport)]))
        f = flows.setdefault(key, [0, 0, 0, set(), set()])
        f[0] += 1
        f[1] += packets
        f[2] += nbytes
        f[3].update(labels or [])
        f[4].add(day)
    return flows


def compare_manifest(manifest, rows, v, op="ingest.pass"):
    flows = flows_of(rows)
    if len(rows) != manifest["rows"]:
        v.fail(f"session rows {len(rows)} != manifest {manifest['rows']}", op)
    if len(flows) != manifest["flows"]:
        v.fail(f"sessions {len(flows)} != manifest {manifest['flows']}", op)
    got = sorted([f[1], f[2]] for f in flows.values())
    if got != manifest["per_flow"]:
        diff = Counter(map(tuple, got)) - Counter(map(tuple, manifest["per_flow"]))
        v.fail(f"per-session packets/bytes differ from the manifest, e.g. {list(diff)[:3]}", op)
    split = sum(1 for f in flows.values() if f[0] > 1)
    if split != manifest["split_flows"]:
        v.fail(f"mid-save split sessions {split} != manifest {manifest['split_flows']}", op)
    got_protos = Counter(app_protocol(f[3]) for f in flows.values())
    for proto, n in manifest["protocols"].items():
        if got_protos[proto] != n:
            v.fail(f"{proto} sessions {got_protos[proto]} != manifest {n}", op)
    days = sorted(set().union(*[f[4] for f in flows.values()])) if flows else []
    if days != manifest["days"]:
        v.fail(f"store days {days} != manifest {manifest['days']}", op)


def check_ingest(work, res, v):
    with open(os.path.join(work, "capture", "manifest.json")) as f:
        manifest = json.load(f)
    v.info["bytes"] = manifest["bytes"]
    compare_manifest(manifest, _lines(os.path.join(work, "sessions.jsonl")), v)


# ---------------------------------------------------------------- viewer

def check_viewer(work, res, v):
    import viewer_mix
    got = {r["id"]: r["rows"] for r in _lines(os.path.join(work, "results.jsonl"))}
    with open(os.path.join(work, "mix.json")) as f:
        mix = json.load(f)
    con = viewer_mix.connect(os.path.join(work, "store"))
    for q in mix:
        if q["id"] not in got:
            continue          # never completed: already counted as failed
        want = viewer_mix.twin_rows(con, q)
        have = viewer_mix.normalize(got[q["id"]])
        if have != want:
            v.fail(f"viewer {q['id']} ({q['endpoint']}, {q['expr']}): "
                   f"{len(have)} rows != twin {len(want)} rows", f"viewer.{q['id']}")


# ---------------------------------------------------------------- operators

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def same(a, b):
    """tools/check_oracle.py's value rule."""
    eq = (a == b) or (a is None and b is None)
    try:
        if not eq and isinstance(a, float) and isinstance(b, float):
            eq = (math.isnan(a) and math.isnan(b)) or a == b
    except Exception:
        pass
    return eq or str(a) == str(b)


def check_operators(work, res, v):
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{work}/sf/{t}.parquet'")
    got = {r["name"]: r for r in _lines(os.path.join(work, "results.jsonl"))}
    for o in _lines(os.path.join(work, "oracle.jsonl")):
        name, sql = o["name"], o["sql"]
        if name not in got:
            continue
        if sql is None:
            v.fail(f"{name}: no oracle SQL", name)
            continue
        exp = con.execute(sql).df()
        g = pd.DataFrame(got[name]["rows"], columns=got[name]["columns"])
        ec, gc = sorted(exp.columns), sorted(g.columns)
        if ec != gc:
            v.fail(f"{name}: columns {gc} != {ec}", name)
            continue
        if len(exp) != len(g):
            v.fail(f"{name}: rows {len(g)} != {len(exp)}", name)
            continue
        e = exp[ec].sort_values(ec).reset_index(drop=True)
        g = g[ec].sort_values(ec).reset_index(drop=True)
        for c in ec:
            bad = next(((i, a, b) for i, (a, b) in enumerate(zip(e[c].tolist(), g[c].tolist()))
                        if not same(a, b)), None)
            if bad:
                v.fail(f"{name}: col={c} row={bad[0]}: got {bad[2]!r} want {bad[1]!r}", name)
                break
