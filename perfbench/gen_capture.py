#!/usr/bin/env python3
"""Seeded synthetic capture generator with a manifest of expected sessions.

The same seed always gives byte-identical pcap files and manifest. Traffic:
HTTP/1.1, DNS, TLS client hello, SMTP, SSH banners, plain UDP and ICMP echo,
with TCP retransmits, out-of-order segments, fragmented IPv4 datagrams, a
few hot servers that take most flows, and a few long TCP flows of more than
10,000 packets (graft's SessionBuilder.MaxPackets) that force mid-save
splits into several session rows.

Every flow has its own 5-tuple and its packets sit in one file, in time
order, far apart from nothing that could end the session early, so the
generator knows each session exactly. The manifest records:
  flows           sessions before mid-save splits
  rows            session rows expected from sessionize
  split_flows     flows saved as more than one row
  per_flow        sorted [packets, bytes] of every flow (a multiset)
  protocols       flows per application protocol
  files           name, size and sha256 of every capture file
  servers         the hot servers
Packets and bytes follow graft's count: one per captured frame, its
captured length; the two fragments of a datagram count as one packet, the
reassembled frame.

Usage: gen_capture.py <seed> <out_dir> [--mb N]
"""
import hashlib
import json
import os
import random
import struct
import sys

MAX_PACKETS = 10000          # graft SessionBuilder.MaxPackets
DAY_S = 86400
BASE_S = 1704067200          # 2024-01-01T00:00:00Z
DAYS = 7
PROTOS = ["http", "dns", "tls", "smtp", "ssh", "udp", "icmp"]
MIX = [0.34, 0.22, 0.14, 0.08, 0.08, 0.08, 0.06]


def _ip(a):
    return bytes(int(x) for x in a.split("."))


def _csum(b):
    if len(b) % 2:
        b += b"\0"
    s = sum(struct.unpack(f"!{len(b) // 2}H", b))
    while s >> 16:
        s = (s & 0xFFFF) + (s >> 16)
    return (~s) & 0xFFFF


def _ipv4(src, dst, proto, payload, ident, frag_off=0, mf=False):
    flags = (0x2000 if mf else 0) | (frag_off // 8)
    hdr = struct.pack("!BBHHHBBH4s4s", 0x45, 0, 20 + len(payload), ident,
                      flags, 64, proto, 0, _ip(src), _ip(dst))
    hdr = hdr[:10] + struct.pack("!H", _csum(hdr)) + hdr[12:]
    return hdr + payload


def _eth(smac, dmac, ip_packet):
    return dmac + smac + b"\x08\x00" + ip_packet


class Flow:
    """One session: client/server endpoints and its timed frames."""

    def __init__(self, rnd, proto, cli, srv, cport, sport, t0):
        self.rnd, self.proto = rnd, proto
        self.cli, self.srv, self.cport, self.sport = cli, srv, cport, sport
        self.t = t0
        self.cmac = bytes([2, 0]) + _ip(cli)
        self.smac = bytes([2, 1]) + _ip(srv)
        self.frames = []       # (ts_us, frame)
        self.cseq = rnd.getrandbits(32)
        self.sseq = rnd.getrandbits(32)
        self.ident = rnd.getrandbits(16)
        self.frag_adjust = [0, 0]   # (packets, bytes) saved by reassembly

    def _tick(self):
        self.t += self.rnd.randint(200, 20000)   # 0.2-20 ms between packets
        return self.t

    def _push(self, from_cli, ipproto, l4):
        src, dst = (self.cli, self.srv) if from_cli else (self.srv, self.cli)
        smac, dmac = (self.cmac, self.smac) if from_cli else (self.smac, self.cmac)
        self.ident = (self.ident + 1) & 0xFFFF
        self.frames.append((self._tick(), _eth(smac, dmac, _ipv4(src, dst, ipproto, l4, self.ident))))

    # --- TCP -----------------------------------------------------------
    def _tcp(self, from_cli, flags, payload=b"", seq=None):
        sp, dp = (self.cport, self.sport) if from_cli else (self.sport, self.cport)
        if seq is None:
            seq = self.cseq if from_cli else self.sseq
        ack = self.sseq if from_cli else self.cseq
        hdr = struct.pack("!HHIIBBHHH", sp, dp, seq & 0xFFFFFFFF,
                          ack & 0xFFFFFFFF if flags & 0x10 else 0,
                          5 << 4, flags, 65535, 0, 0)
        self._push(from_cli, 6, hdr + payload)

    def _advance(self, from_cli, n):
        if from_cli:
            self.cseq += n
        else:
            self.sseq += n

    def handshake(self):
        self._tcp(True, 0x02)
        self.cseq += 1
        self._tcp(False, 0x12)
        self.sseq += 1
        self._tcp(True, 0x10)

    def send(self, from_cli, data, mss=1400, anomalies=True):
        """Data in MSS-sized segments; may retransmit or reorder one."""
        segs = [data[i:i + mss] for i in range(0, len(data), mss)]
        base = self.cseq if from_cli else self.sseq
        order = list(range(len(segs)))
        if anomalies and len(segs) >= 2 and self.rnd.random() < 0.15:
            k = self.rnd.randrange(len(segs) - 1)
            order[k], order[k + 1] = order[k + 1], order[k]    # out of order
        off = [sum(len(s) for s in segs[:i]) for i in range(len(segs))]
        for i in order:
            self._tcp(from_cli, 0x18, segs[i], seq=base + off[i])
            if anomalies and self.rnd.random() < 0.05:          # retransmit
                self._tcp(from_cli, 0x18, segs[i], seq=base + off[i])
        self._advance(from_cli, len(data))
        self._tcp(not from_cli, 0x10)

    def close(self):
        self._tcp(True, 0x11)
        self.cseq += 1
        self._tcp(False, 0x11)
        self.sseq += 1
        self._tcp(True, 0x10)

    # --- UDP / ICMP ----------------------------------------------------
    def udp(self, from_cli, payload):
        sp, dp = (self.cport, self.sport) if from_cli else (self.sport, self.cport)
        self._push(from_cli, 17, struct.pack("!HHHH", sp, dp, 8 + len(payload), 0) + payload)

    def udp_fragmented(self, from_cli, payload):
        """One UDP datagram carried in two IPv4 fragments."""
        sp, dp = (self.cport, self.sport) if from_cli else (self.sport, self.cport)
        l4 = struct.pack("!HHHH", sp, dp, 8 + len(payload), 0) + payload
        cut = (len(l4) // 2) // 8 * 8
        src, dst = (self.cli, self.srv) if from_cli else (self.srv, self.cli)
        smac, dmac = (self.cmac, self.smac) if from_cli else (self.smac, self.cmac)
        self.ident = (self.ident + 1) & 0xFFFF
        self.frames.append((self._tick(), _eth(smac, dmac, _ipv4(src, dst, 17, l4[:cut], self.ident, 0, True))))
        self.frames.append((self._tick(), _eth(smac, dmac, _ipv4(src, dst, 17, l4[cut:], self.ident, cut, False))))
        self.frag_adjust[0] -= 1
        self.frag_adjust[1] -= 14 + 20

    def icmp(self, from_cli, typ, ident, seq, payload):
        body = struct.pack("!BBHHH", typ, 0, 0, ident, seq) + payload
        body = body[:2] + struct.pack("!H", _csum(body)) + body[4:]
        self._push(from_cli, 1, body)


def _word(rnd, n=6):
    return "".join(rnd.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))


def _dns_msg(qid, qname, qtype, answer_ip=None):
    flags = 0x8180 if answer_ip else 0x0100
    q = b"".join(bytes([len(p)]) + p.encode() for p in qname.split(".")) + b"\0"
    q += struct.pack("!HH", qtype, 1)
    msg = struct.pack("!HHHHHH", qid, flags, 1, 1 if answer_ip else 0, 0, 0) + q
    if answer_ip:
        msg += b"\xc0\x0c" + struct.pack("!HHIH", 1, 1, 300, 4) + _ip(answer_ip)
    return msg


def _client_hello(rnd, sni):
    name = sni.encode()
    sni_ext = struct.pack("!HHHBH", 0, len(name) + 5, len(name) + 3, 0, len(name)) + name
    exts = sni_ext + struct.pack("!HH", 0x000b, 2) + b"\x01\x00"
    suites = b"\x13\x01\x13\x02\xc0\x2b\xc0\x2f"
    body = (b"\x03\x03" + rnd.randbytes(32) + b"\x00"
            + struct.pack("!H", len(suites)) + suites + b"\x01\x00"
            + struct.pack("!H", len(exts)) + exts)
    hs = b"\x01" + struct.pack("!I", len(body))[1:] + body
    return b"\x16\x03\x01" + struct.pack("!H", len(hs)) + hs


def _server_hello(rnd):
    body = b"\x03\x03" + rnd.randbytes(32) + b"\x00\x13\x01\x00\x00\x00"
    hs = b"\x02" + struct.pack("!I", len(body))[1:] + body
    return b"\x16\x03\x03" + struct.pack("!H", len(hs)) + hs


def _fill(flow, rnd, hosts, long_packets=0):
    p = flow.proto
    if p == "http":
        flow.handshake()
        for _ in range(rnd.randint(1, 3)):
            host = rnd.choice(hosts)
            req = (f"GET /{_word(rnd)}/{_word(rnd, 4)}.html HTTP/1.1\r\nHost: {host}\r\n"
                   f"User-Agent: bench/{rnd.randint(1, 9)}.0\r\nAccept: */*\r\n\r\n").encode()
            flow.send(True, req)
            body = rnd.randbytes(rnd.choice([200, 900, 3000, 6000]))
            resp = (f"HTTP/1.1 200 OK\r\nContent-Type: application/octet-stream\r\n"
                    f"Content-Length: {len(body)}\r\n\r\n").encode() + body
            flow.send(False, resp)
        flow.close()
    elif p == "tls":
        flow.handshake()
        flow.send(True, _client_hello(rnd, rnd.choice(hosts)))
        flow.send(False, _server_hello(rnd) + rnd.randbytes(rnd.choice([500, 2500])))
        if long_packets:
            # a long bulk transfer: small records until the flow exceeds
            # MaxPackets; no retransmits so the packet count is exact
            blob = rnd.randbytes(64)
            for _ in range((long_packets - len(flow.frames) - 3) // 2):
                flow.send(True, b"\x17\x03\x03\x00\x40" + blob, anomalies=False)
        flow.close()
    elif p == "smtp":
        flow.handshake()
        flow.send(False, b"220 mail.bench.test ESMTP ready\r\n")
        flow.send(True, f"EHLO {_word(rnd)}.test\r\n".encode())
        flow.send(False, b"250-mail.bench.test\r\n250 SIZE 10240000\r\n")
        flow.send(True, f"MAIL FROM:<{_word(rnd)}@bench.test>\r\n".encode())
        flow.send(False, b"250 OK\r\n")
        flow.send(True, b"QUIT\r\n")
        flow.send(False, b"221 bye\r\n")
        flow.close()
    elif p == "ssh":
        flow.handshake()
        flow.send(False, f"SSH-2.0-OpenSSH_{rnd.randint(7, 9)}.{rnd.randint(0, 9)}\r\n".encode())
        flow.send(True, b"SSH-2.0-bench_client_1.0\r\n")
        flow.send(True, rnd.randbytes(rnd.choice([300, 1200])))
        flow.close()
    elif p == "dns":
        for _ in range(rnd.randint(1, 2)):
            qid = rnd.getrandbits(16)
            qname = f"{_word(rnd)}.{rnd.choice(['bench.test', 'example.org', 'corp.local'])}"
            qtype = rnd.choice([1, 1, 28, 15])
            flow.udp(True, _dns_msg(qid, qname, qtype))
            flow.udp(False, _dns_msg(qid, qname, qtype, flow.srv))
    elif p == "udp":
        for _ in range(rnd.randint(2, 6)):
            flow.udp(rnd.random() < 0.6, rnd.randbytes(rnd.randint(20, 400)))
        if rnd.random() < 0.3:
            flow.udp_fragmented(True, rnd.randbytes(2400))
    elif p == "icmp":
        ident = rnd.getrandbits(16)
        for s in range(rnd.randint(1, 4)):
            payload = rnd.randbytes(56)
            flow.icmp(True, 8, ident, s, payload)
            flow.icmp(False, 0, ident, s, payload)


def _l4_port(proto, rnd):
    return {"http": 80, "dns": 53, "tls": 443, "smtp": 25, "ssh": 22}.get(proto, rnd.randint(10000, 60000))


def _packets_and_bytes(flow):
    """What graft reports for a flow: a fragmented datagram counts once,
    with the reassembled frame's length."""
    return [len(flow.frames) + flow.frag_adjust[0],
            sum(len(f) for _, f in flow.frames) + flow.frag_adjust[1]]


def generate(seed, out_dir, mb=16.0, long_flows=2):
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    servers = [f"10.{rnd.randint(1, 200)}.{rnd.randint(0, 255)}.{rnd.randint(1, 254)}" for _ in range(60)]
    hot = servers[:3]
    hosts = [f"{_word(rnd, 5)}.{rnd.choice(['bench.test', 'example.org', 'corp.local'])}" for _ in range(40)]
    budget = int(mb * 1e6)
    flows, total = [], 0
    used_ports = set()

    def new_flow(proto, day, long_packets=0):
        srv = rnd.choice(hot) if rnd.random() < 0.7 else rnd.choice(servers)
        while True:
            cli = f"192.168.{rnd.randint(0, 63)}.{rnd.randint(1, 254)}"
            cport = 0 if proto == "icmp" else rnd.randint(1024, 65000)
            if (cli, cport, srv) not in used_ports:
                used_ports.add((cli, cport, srv))
                break
        sport = 0 if proto == "icmp" else _l4_port(proto, rnd)
        t0 = (BASE_S + day * DAY_S + rnd.randint(3600, DAY_S - 7200)) * 1_000_000
        f = Flow(rnd, proto, cli, srv, cport, sport, t0)
        _fill(f, rnd, hosts, long_packets)
        return f

    def file_bytes(f):          # frames plus their 16-byte record headers
        return sum(len(fr) + 16 for _, fr in f.frames)

    for i in range(long_flows):
        f = new_flow("tls", i % DAYS, long_packets=MAX_PACKETS + 1500 + 700 * i)
        flows.append(f)
        total += file_bytes(f)
    while total < budget:
        proto = rnd.choices(PROTOS, MIX)[0]
        f = new_flow(proto, rnd.randrange(DAYS))
        flows.append(f)
        total += file_bytes(f)

    # one file per day, records in time order
    per_day = [[] for _ in range(DAYS)]
    for f in flows:
        day = (f.frames[0][0] // 1_000_000 - BASE_S) // DAY_S
        per_day[day] += f.frames
    files = []
    for d, frames in enumerate(per_day):
        frames.sort(key=lambda x: x[0])
        name = f"day{d}.pcap"
        buf = bytearray(struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1))
        for ts, fr in frames:
            buf += struct.pack("<IIII", ts // 1_000_000, ts % 1_000_000, len(fr), len(fr)) + fr
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(buf)
        files.append({"name": name, "bytes": len(buf), "sha256": hashlib.sha256(buf).hexdigest()})

    per_flow = sorted(_packets_and_bytes(f) for f in flows)
    rows = sum((len(f.frames) + MAX_PACKETS - 1) // MAX_PACKETS for f in flows)
    counts = {p: 0 for p in PROTOS}
    for f in flows:
        counts[f.proto] += 1
    manifest = {
        "seed": seed,
        "files": files,
        "bytes": sum(x["bytes"] for x in files),
        "flows": len(flows),
        "rows": rows,
        "split_flows": sum(1 for f in flows if len(f.frames) > MAX_PACKETS),
        "protocols": counts,
        "per_flow": per_flow,
        "days": [f"2024-01-0{d + 1}" for d in range(DAYS)],
        "servers": hot,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True, separators=(",", ":"))
    return manifest


if __name__ == "__main__":
    args = sys.argv[1:]
    mb = 16.0
    if "--mb" in args:
        i = args.index("--mb")
        mb = float(args[i + 1])
        del args[i:i + 2]
    m = generate(int(args[0]), args[1], mb)
    print(json.dumps({k: m[k] for k in ("bytes", "flows", "rows", "split_flows", "protocols")}))
