"""Seeded capture corpora (tshark ``-T json`` files and pcap/pcapng files)
with a ledger of what each file holds.

The ledger records, per file: packets, packets per protocol (the UDM event
type each one must map to), and every planned error or malformed packet.
A small share of packets is deliberately bad, so the quarantine paths run
in every workload run:

- ``bad_timestamp``: an unparseable ``frame.time_utc`` (falls back to the
  processing time; not an error),
- ``bad_port``: a non-integer TCP port (a ``PacketProcessingError`` event),
- ``bad_ttl``: a non-integer DNS answer TTL (a ``PacketProcessingError`` event),
- ``no_layers``: a falsy ``layers`` object (a malformed event),

plus, where asked for, one corrupt-root JSON file and one pcap with an
unknown magic, each of which becomes exactly one error event.

Generation is pure Python driven by ``random.Random(seed)``; it runs
before any timed region.
"""

from __future__ import annotations

import json
import os
import random
import struct
from collections import Counter

from chronicle_sniffer_spark.sources import pcap_synth

# protocol -> (weight, UDM event type of a well-formed packet)
JSON_PROTOCOLS = {
    "tcp": (30, "NETWORK_CONNECTION"),
    "http": (15, "NETWORK_HTTP"),
    "dns_query": (14, "NETWORK_DNS"),
    "dns_response": (10, "NETWORK_DNS"),
    "tls": (15, "NETWORK_SSL"),
    "icmp": (6, "NETWORK_ICMP"),
    "arp": (5, "NETWORK_ARP"),
    "ipv6": (5, "NETWORK_CONNECTION"),
}
PCAP_PROTOCOLS = {
    "tcp": (30, "NETWORK_CONNECTION"),
    "http": (20, "NETWORK_HTTP"),
    "dns_query": (15, "NETWORK_DNS"),
    "dns_response": (10, "NETWORK_DNS"),
    "tls": (15, "NETWORK_SSL"),
    "icmp": (5, "NETWORK_ICMP"),
    "arp": (5, "NETWORK_ARP"),
}
ERROR_EVENT = "NETWORK_EVENT_ERROR"
MALFORMED_EVENT = "NETWORK_EVENT_UNKNOWN"
# share of packets carrying each planned defect
DEFECT_RATES = {"bad_timestamp": 0.01, "bad_port": 0.01, "bad_ttl": 0.01, "no_layers": 0.005}
CORRUPT_ROOT = b'{"not": "an array", "and": [unclosed'
UNKNOWN_MAGIC = b"NOTPCAP!" + bytes(56)


def _new_entry() -> dict:
    return {"packets": 0, "errors": 0, "malformed": 0, "event_types": Counter(), "defects": Counter()}


def _pick(rng: random.Random, table: dict) -> str:
    names = list(table)
    return rng.choices(names, weights=[table[n][0] for n in names])[0]


def _ip(rng: random.Random) -> str:
    return f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"


def _host(rng: random.Random) -> str:
    return f"host{rng.randrange(500)}.example.com"


def _tshark_time(sec: int, micros: int) -> str:
    import time as _t

    tm = _t.gmtime(sec)
    return f"{_t.strftime('%b', tm)} {tm.tm_mday}, {_t.strftime('%Y %H:%M:%S', tm)}.{micros:06d}"


def tshark_packet(rng: random.Random, num: int, ts: int, proto: str, defect: str | None) -> dict:
    """One element of ``tshark -T json`` output."""
    if defect == "no_layers":
        return {"_source": {"layers": {}}}
    time_utc = "not a timestamp at all" if defect == "bad_timestamp" else _tshark_time(
        ts, rng.randrange(1_000_000)
    )
    layers: dict = {
        "frame": {
            "frame.number": str(num),
            "frame.time_utc": time_utc,
            "frame.protocols": f"eth:ethertype:{proto}",
        },
        "eth": {"eth.src": "aa:bb:cc:dd:ee:01", "eth.dst": "aa:bb:cc:dd:ee:02"},
    }
    if proto == "ipv6":
        layers["ipv6"] = {"ipv6.src": "2001:db8::1", "ipv6.dst": f"2001:db8::{rng.randrange(1, 9999):x}"}
    elif proto != "arp":
        layers["ip"] = {"ip.src": _ip(rng), "ip.dst": _ip(rng), "ip.ttl": str(rng.choice((64, 128, 255)))}
    sport = str(rng.randrange(1024, 65536))
    if proto in ("tcp", "http", "tls", "ipv6"):
        dport = {"http": "80", "tls": "443"}.get(proto, str(rng.randrange(1, 1024)))
        layers["tcp"] = {
            "tcp.srcport": "not_a_number" if defect == "bad_port" else sport,
            "tcp.dstport": dport,
            "tcp.flags": rng.choice(("0x0002", "0x0010", "0x0018")),
        }
    if proto == "http":
        host = _host(rng)
        layers["http"] = {
            "http.host": host,
            "http.request.method": rng.choice(("GET", "POST")),
            "http.request.full_uri": f"http://{host}/{rng.randrange(10**6)}",
            "http.user_agent": "curl/8.0",
        }
    elif proto == "tls":
        layers["tls"] = {
            "tls.record": {
                "tls.record.version": "0x0303",
                "tls.handshake": {
                    "tls.handshake.version": "0x0303",
                    "tls.handshake.extensions_server_name": _host(rng),
                },
            }
        }
    elif proto in ("dns_query", "dns_response"):
        layers["udp"] = {"udp.srcport": sport, "udp.dstport": "53"}
        name = _host(rng)
        dns = {
            "dns.flags_tree": {"dns.flags.response": "1" if proto == "dns_response" else "0"},
            "Queries": {f"{name}: type A, class IN": {"dns.qry.name": name, "dns.qry.type": "1"}},
        }
        if proto == "dns_response":
            ttl = "abc" if defect == "bad_ttl" else str(rng.randrange(30, 86400))
            dns["Answers"] = {
                f"{name}: type A, class IN, addr": {"dns.resp.name": name, "dns.resp.ttl": ttl}
            }
        layers["dns"] = dns
    elif proto == "icmp":
        layers["icmp"] = {"icmp.type": "8", "icmp.code": "0"}
    elif proto == "arp":
        layers["arp"] = {
            "arp.opcode": "1",
            "arp.src.hw_mac": "aa:bb:cc:dd:ee:01",
            "arp.src.proto_ipv4": _ip(rng),
            "arp.dst.hw_mac": "00:00:00:00:00:00",
            "arp.dst.proto_ipv4": _ip(rng),
        }
    return {"_source": {"layers": layers}}


def _json_defect(rng: random.Random, proto: str) -> str | None:
    r = rng.random()
    for name, rate in DEFECT_RATES.items():
        if r < rate:
            if name == "bad_ttl" and proto != "dns_response":
                return None
            if name == "bad_port" and proto not in ("tcp", "http", "tls", "ipv6"):
                return None
            return name
        r -= rate
    return None


def write_json_capture(path: str, rng: random.Random, n_packets: int) -> dict:
    """One tshark JSON capture file; returns its ledger entry."""
    entry = _new_entry()
    packets = []
    base_ts = 1_749_561_255 + rng.randrange(86_400)
    for i in range(n_packets):
        proto = _pick(rng, JSON_PROTOCOLS)
        defect = _json_defect(rng, proto)
        packets.append(tshark_packet(rng, i + 1, base_ts + i // 100, proto, defect))
        entry["packets"] += 1
        if defect:
            entry["defects"][defect] += 1
        if defect in ("bad_port", "bad_ttl"):
            entry["errors"] += 1
            entry["event_types"][ERROR_EVENT] += 1
        elif defect == "no_layers":
            entry["malformed"] += 1
            entry["event_types"][MALFORMED_EVENT] += 1
        else:
            entry["event_types"][JSON_PROTOCOLS[proto][1]] += 1
    with open(path, "w") as fh:
        json.dump(packets, fh, separators=(",", ":"))
    return entry


def write_corrupt_root(path: str) -> dict:
    with open(path, "wb") as fh:
        fh.write(CORRUPT_ROOT)
    entry = _new_entry()
    entry.update(packets=1, errors=1)
    entry["event_types"][ERROR_EVENT] = 1
    entry["defects"]["corrupt_root"] = 1
    return entry


# ---------------------------------------------------------------------------
# binary captures
# ---------------------------------------------------------------------------


def _frame(rng: random.Random, proto: str) -> bytes:
    s = pcap_synth
    src, dst = _ip(rng), _ip(rng)
    sport = rng.randrange(1024, 65536)
    if proto == "http":
        host = _host(rng).encode()
        payload = b"GET /" + str(rng.randrange(10**6)).encode() + b" HTTP/1.1\r\nHost: " + host
        payload += b"\r\nUser-Agent: curl/8.0\r\n\r\n"
        return s.eth() + s.ipv4(src, dst, 6, s.tcp(sport, 80, payload))
    if proto == "dns_query":
        return s.eth() + s.ipv4(src, dst, 17, s.udp(sport, 53, s.dns_query(_host(rng))))
    if proto == "dns_response":
        body = s.dns_response(_host(rng), rng.randrange(30, 86400))
        return s.eth() + s.ipv4(src, dst, 17, s.udp(53, sport, body))
    if proto == "tls":
        return s.eth() + s.ipv4(src, dst, 6, s.tcp(sport, 443, s.client_hello(_host(rng))))
    if proto == "icmp":
        return s.eth() + s.ipv4(src, dst, 1, struct.pack("!BBHHH", 8, 0, 0, 1, rng.randrange(65536)))
    if proto == "arp":
        return (
            s.eth(ethertype=0x0806)
            + struct.pack("!HHBBH", 1, 0x0800, 6, 4, 1)
            + bytes.fromhex("aabbccddee01")
            + bytes(int(x) for x in src.split("."))
            + bytes(6)
            + bytes(int(x) for x in dst.split("."))
        )
    return s.eth() + s.ipv4(src, dst, 6, s.tcp(sport, rng.randrange(1, 1024), flags=0x002))


def _pcap(frames: list[bytes], base_ts: int) -> bytes:
    out = [struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1)]
    for i, f in enumerate(frames):
        out.append(struct.pack("<IIII", base_ts + i // 1000, (i % 1000) * 1000, len(f), len(f)))
        out.append(f)
    return b"".join(out)


def _png_block(btype: int, body: bytes) -> bytes:
    body += b"\x00" * ((-len(body)) % 4)
    return struct.pack("<II", btype, 12 + len(body)) + body + struct.pack("<I", 12 + len(body))


def _pcapng(frames: list[bytes], base_ts: int) -> bytes:
    out = [
        _png_block(0x0A0D0D0A, struct.pack("<IHHq", 0x1A2B3C4D, 1, 0, -1)),
        _png_block(0x00000001, struct.pack("<HHI", 1, 0, 65535)),
    ]
    for i, f in enumerate(frames):
        ticks = (base_ts + i // 1000) * 10**6 + (i % 1000) * 1000
        epb = struct.pack("<IIIII", 0, ticks >> 32, ticks & 0xFFFFFFFF, len(f), len(f)) + f
        out.append(_png_block(0x00000006, epb))
    return b"".join(out)


def write_pcap_capture(path: str, rng: random.Random, n_packets: int, ng: bool) -> dict:
    """One pcap (or pcapng) capture file; returns its ledger entry."""
    entry = _new_entry()
    frames = []
    for _ in range(n_packets):
        proto = _pick(rng, PCAP_PROTOCOLS)
        frames.append(_frame(rng, proto))
        entry["packets"] += 1
        entry["event_types"][PCAP_PROTOCOLS[proto][1]] += 1
    base_ts = 1_749_561_255 + rng.randrange(86_400)
    with open(path, "wb") as fh:
        fh.write(_pcapng(frames, base_ts) if ng else _pcap(frames, base_ts))
    return entry


def write_unknown_magic(path: str) -> dict:
    with open(path, "wb") as fh:
        fh.write(UNKNOWN_MAGIC)
    entry = _new_entry()
    entry.update(packets=1, errors=1)
    entry["event_types"][ERROR_EVENT] = 1
    entry["defects"]["unknown_magic"] = 1
    return entry


def json_corpus(out_dir: str, seed: int, n_files: int, n_packets: int, prefix: str,
                corrupt_root: bool = True) -> dict:
    """``n_files`` tshark JSON captures (+ one corrupt-root file) in
    ``out_dir``; returns ``{file name: ledger entry}``."""
    rng = random.Random(f"{seed}:{prefix}")
    os.makedirs(out_dir, exist_ok=True)
    ledger = {}
    for i in range(n_files):
        name = f"{prefix}_{i:03d}.json"
        ledger[name] = write_json_capture(os.path.join(out_dir, name), rng, n_packets)
    if corrupt_root:
        name = f"{prefix}_corrupt.json"
        ledger[name] = write_corrupt_root(os.path.join(out_dir, name))
    return ledger


def pcap_corpus(out_dir: str, seed: int, n_files: int, n_packets: int) -> dict:
    """``n_files`` captures alternating pcap and pcapng, plus one file with
    an unknown magic; returns ``{file name: ledger entry}``."""
    rng = random.Random(f"{seed}:pcap")
    os.makedirs(out_dir, exist_ok=True)
    ledger = {}
    for i in range(n_files):
        ng = i % 2 == 1
        name = f"capture_{i:03d}.{'pcapng' if ng else 'pcap'}"
        ledger[name] = write_pcap_capture(os.path.join(out_dir, name), rng, n_packets, ng)
    ledger["capture_unknown.pcap"] = write_unknown_magic(os.path.join(out_dir, "capture_unknown.pcap"))
    return ledger


def load_packets(path: str) -> list:
    with open(path) as fh:
        return json.load(fh)
