"""Seeded viewer query mix and its DuckDB twin.

Each query is one SessionQueryBuilder call: an endpoint (table, spiview,
spigraph, unique, connections, timeHistogram, hierarchy), an optional
Moloch expression (term, wildcard, CIDR, range, list or negation) and a
time window, narrow (one day of the seven) or wide (all seven days), with
the viewer's default bounding on lastPacket. The twin is the same query
written independently as SQL over the stored parquet.
"""
import json
import os
import random

DAY_MS = 86400000
BASE_MS = 1704067200000      # 2024-01-01T00:00:00Z, the capture's first day
DAYS = 7

# One query per endpoint with a fixed field, window and expression kind,
# so every seed runs the same mix shape; the seed picks the expression's
# values (port, protocol, domain, network, byte range) and the narrow
# window's day.
MIX = [("table", None, "narrow", "term"),
       ("spiview", "protocol", "wide", "wildcard"),
       ("spigraph", "dstIp", "narrow", "cidr"),
       ("unique", "dstPort", "wide", "range"),
       ("connections", None, "narrow", "list"),
       ("timeHistogram", None, "wide", "negation"),
       ("hierarchy", "dstIp,dstPort", "narrow", "none")]
ARRAYS = {"protocol"}


def expression(rnd, kind, manifest):
    """(Moloch expression, SQL predicate) of one kind, values from rnd."""
    if kind == "none":
        return None, "TRUE"
    if kind == "term":
        port = rnd.choice([80, 53, 443, 25, 22])
        return f"port.dst == {port}", f"dstPort = {port}"
    if kind == "wildcard":
        dom = rnd.choice(["bench.test", "example.org", "corp.local"])
        return (f"http.host == *.{dom}",
                f"len(list_filter(httpHost, x -> x LIKE '%.{dom}')) > 0")
    if kind == "cidr":
        a, b = rnd.choice(manifest["servers"]).split(".")[:2]
        return f"ip.dst == {a}.{b}.0.0/16", f"dstIp LIKE '{a}.{b}.%'"
    if kind == "range":
        lo = rnd.choice([200, 500, 1000])
        hi = lo * rnd.choice([4, 10, 40])
        return f"bytes >= {lo} && bytes <= {hi}", f"totBytes BETWEEN {lo} AND {hi}"
    if kind == "list":
        ports = sorted(rnd.sample([22, 25, 53, 80, 443], 3))
        return (f"port.dst == [{','.join(map(str, ports))}]",
                f"dstPort IN ({', '.join(map(str, ports))})")
    if kind == "negation":
        app = rnd.choice(["http", "dns", "tls", "smtp", "ssh"])
        return f"!(protocols == {app})", f"NOT list_contains(protocol, '{app}')"
    raise ValueError(kind)


def make(seed, manifest):
    rnd = random.Random(seed * 1000003 + 17)
    mix = []
    for i, (endpoint, field, window, kind) in enumerate(MIX):
        expr, pred = expression(rnd, kind, manifest)
        if window == "narrow":
            day = rnd.randrange(DAYS)
            start, stop = BASE_MS + day * DAY_MS, BASE_MS + (day + 1) * DAY_MS - 1
        else:
            start, stop = BASE_MS, BASE_MS + DAYS * DAY_MS - 1
        mix.append({"id": f"q{i}", "endpoint": endpoint, "field": field, "kind": kind,
                    "expr": expr, "pred": pred, "start": start, "stop": stop,
                    "window": window})
    return mix


def write(seed, out, manifest):
    """Writes queries.tsv for the harness and mix.json for the twin;
    returns the mix as a string (for the determinism check)."""
    mix = make(seed, manifest)
    with open(os.path.join(out, "queries.tsv"), "w") as f:
        for q in mix:
            f.write("\t".join([q["id"], q["endpoint"], q["field"] or "-", q["expr"] or "-",
                               str(q["start"]), str(q["stop"])]) + "\n")
    text = json.dumps(mix, sort_keys=True)
    with open(os.path.join(out, "mix.json"), "w") as f:
        f.write(text)
    return text


def connect(store):
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW s AS SELECT * FROM read_parquet('{store}/*/*.parquet', "
                f"hive_partitioning = true)")
    return con


def twin_sql(q):
    start, stop = q["start"], q["stop"]
    if q["endpoint"] == "spiview" and stop // DAY_MS - start // DAY_MS >= 4:
        start = (stop // DAY_MS - 3) * DAY_MS      # spiview's 4-day index limit
    base = f"(SELECT * FROM s WHERE lastPacket BETWEEN {start} AND {stop} AND ({q['pred']}))"
    f = q["field"]
    bucket = "CAST(floor(lastPacket / 1000 / 3600) * 3600 AS BIGINT)"

    def values(extra=""):
        col = f"unnest({f})" if f in ARRAYS else f
        return f"(SELECT {col} AS v{extra} FROM {base} b)"

    ep = q["endpoint"]
    if ep == "table":
        return (f"SELECT sessionId, srcIp, dstIp, dstPort, totBytes, firstPacket FROM {base} "
                f"ORDER BY firstPacket DESC, sessionId LIMIT 50")
    if ep == "spiview":
        return (f"SELECT v, count(*) FROM {values()} WHERE v IS NOT NULL GROUP BY v "
                f"ORDER BY count(*) DESC, v LIMIT 10")
    if ep == "unique":
        return (f"SELECT v, count(*) FROM {values()} WHERE v IS NOT NULL GROUP BY v "
                f"ORDER BY count(*) DESC, v LIMIT 10000")
    if ep == "spigraph":
        vals = values(f", {bucket} AS bucket")
        return (f"WITH x AS {vals}, top AS (SELECT v FROM x WHERE v IS NOT NULL GROUP BY v "
                f"ORDER BY count(*) DESC, v LIMIT 5) "
                f"SELECT v, bucket, count(*) FROM x WHERE v IN (SELECT v FROM top) GROUP BY v, bucket")
    if ep == "connections":
        return (f"SELECT srcIp, dstIp, count(*) FROM {base} "
                f"WHERE srcIp IS NOT NULL AND dstIp IS NOT NULL GROUP BY srcIp, dstIp")
    if ep == "timeHistogram":
        return f"SELECT {bucket}, count(*) FROM {base} GROUP BY 1"
    if ep == "hierarchy":
        a, b = f.split(",")
        return (f"WITH g AS (SELECT {a}, {b}, count(*) AS cnt FROM {base} "
                f"WHERE {a} IS NOT NULL AND {b} IS NOT NULL GROUP BY {a}, {b}), "
                f"t0 AS (SELECT {a} FROM g GROUP BY {a} ORDER BY sum(cnt) DESC, {a} LIMIT 5), "
                f"r AS (SELECT g.*, row_number() OVER (PARTITION BY g.{a} "
                f"ORDER BY cnt DESC, g.{b}) AS rn FROM g JOIN t0 USING ({a})) "
                f"SELECT {a}, {b}, cnt FROM r WHERE rn <= 5")
    raise ValueError(ep)


def normalize(rows):
    """Rows as a sorted list of JSON strings: order-free, type-stable."""
    return sorted(json.dumps(list(r), default=str) for r in rows)


def twin_rows(con, q):
    return normalize(con.execute(twin_sql(q)).fetchall())
