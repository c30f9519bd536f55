"""UDM projection golden tests: engine output vs the independent
Python oracle, per fixture, canonicalized (sorted keys, fixed
processing time — SURVEY §5.2-1, §2C.4)."""

from __future__ import annotations

import json
import os

import pytest

from chronicle_sniffer_spark.sources.json_source import read_tshark_json
from chronicle_sniffer_spark.udm import project_udm
from tests.udm_oracle import file_to_udm

FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
PROC_TIME = "2025-09-05T12:00:00.000000Z"

GOLDEN_FIXTURES = [
    "tcp_http.json",
    "udp_dns_query.json",
    "udp_dns_response.json",
    "tcp_tls_sni.json",
    "tcp_tls_record_list.json",
    "tcp_dns_and_tls.json",
    "icmp_ping.json",
    "arp_request.json",
    "ipv6_tcp.json",
    "no_layers.json",
    "bad_timestamp.json",
    "mixed_error_packet.json",
    "synflood.json",
]


def canon(obj) -> str:
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


def run_engine(spark, fixture: str) -> list[dict]:
    df = project_udm(read_tshark_json(spark, os.path.join(FIXDIR, fixture)), PROC_TIME)
    return [json.loads(r.udm_json) for r in df.select("udm_json").collect()]


@pytest.mark.parametrize("fixture", GOLDEN_FIXTURES)
def test_udm_matches_oracle(spark, fixture):
    with open(os.path.join(FIXDIR, fixture)) as f:
        packets = json.load(f)
    expected = file_to_udm(packets, PROC_TIME)
    actual = run_engine(spark, fixture)
    # one-in-one-out invariant (SURVEY §2C.1)
    assert len(actual) == len(packets), f"{fixture}: row count"
    assert sorted(map(canon, actual)) == sorted(map(canon, expected)), f"{fixture}: payload"


def test_classifier_last_writer_wins(spark):
    events = run_engine(spark, "tcp_dns_and_tls.json")
    assert events[0]["event"]["metadata"]["event_type"] == "NETWORK_SSL"


def test_arp_overwrites_eth_macs(spark):
    ev = run_engine(spark, "arp_request.json")[0]["event"]
    assert ev["principal"]["mac"] == "aa:bb:cc:dd:ee:99"  # arp value, not eth's
    assert ev["principal"]["ip"] == "10.0.0.1"
    assert ev["metadata"]["event_type"] == "NETWORK_ARP"
    assert ev["additional"]["arp_operation"] == "1"


def test_dns_typeless_query_omits_type_key(spark):
    ev = run_engine(spark, "udp_dns_query.json")[0]["event"]
    queries = ev["network"]["application_protocol_data"]["dns"]["queries"]
    by_name = {q["name"]: q for q in queries}
    assert by_name["example.com"]["type"] == "1"
    assert "type" not in by_name["other.org"]  # §2C.6: no "type": null
    assert ev["network"]["application_protocol_data"]["dns"]["is_response"] is False


def test_tls_record_list_takes_first(spark):
    ev = run_engine(spark, "tcp_tls_record_list.json")[0]["event"]
    tls = ev["network"]["application_protocol_data"]["tls"]
    assert tls["record_version_protocol"] == "0x0303"  # first record only
    assert "handshake_protocol_version" not in tls  # second record's data ignored


def test_malformed_packets_become_minimal_events(spark):
    events = run_engine(spark, "no_layers.json")
    assert len(events) == 2
    for e in events:
        assert e["event"]["metadata"]["event_type"] == "NETWORK_EVENT_UNKNOWN"
        assert e["event"]["metadata"]["product_name"] == "Wireshark TShark (Malformed)"
        assert set(e["event"].keys()) == {"metadata"}


def test_error_quarantine_preserves_rows(spark):
    events = run_engine(spark, "mixed_error_packet.json")
    types = [e["event"]["metadata"]["event_type"] for e in events]
    assert types.count("NETWORK_EVENT_ERROR") == 3
    err = next(
        e["event"]
        for e in events
        if "not_a_number" in e["event"]["additional"].get("processing_error_message", "")
    )
    assert (
        err["additional"]["processing_error_message"]
        == "invalid literal for int() with base 10: 'not_a_number'"
    )
    big = next(
        e["event"]
        for e in events
        if e["event"]["additional"].get("original_packet_data_snippet", "").endswith("...")
    )
    assert len(big["additional"]["original_packet_data_snippet"]) == 1003


def test_timestamp_fallback_chain(spark):
    events = run_engine(spark, "bad_timestamp.json")
    ts = [e["event"]["metadata"]["event_timestamp"] for e in events]
    assert ts[0] == "2025-06-10T13:14:15.000000Z"  # CEST suffix stripped
    assert ts[1] == "2025-06-10T13:14:16.000000Z"  # UTC suffix stripped
    assert ts[2] == PROC_TIME  # garbage → injected processing time
    assert ts[3] == PROC_TIME  # missing → injected processing time


def test_corrupt_file_quarantined_not_dropped(spark):
    df = project_udm(
        read_tshark_json(spark, os.path.join(FIXDIR, "corrupt_root.json")), PROC_TIME
    )
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].is_error
    assert rows[0].event_type == "NETWORK_EVENT_ERROR"


def test_udm_jobs_compile_without_codegen_fallback(spark):
    """Every UDM job shape compiles: with codegen fallback off, a
    generated class Janino rejects (e.g. one fused stage over 64 KB)
    raises instead of silently running interpreted on every job."""
    import tempfile

    from chronicle_sniffer_spark.etl import convert_directory, per_file_metrics
    from chronicle_sniffer_spark.sources.pcap import read_pcap
    from chronicle_sniffer_spark.sources.pcap_synth import (
        example_packets,
        pcap_bytes,
        pcapng_bytes,
    )
    from chronicle_sniffer_spark.streaming.udm_pipeline import run_udm_stream

    base = tempfile.mkdtemp(prefix="css_udm_codegen_")
    cap_dir = os.path.join(base, "captures")
    os.makedirs(cap_dir)
    with open(os.path.join(cap_dir, "capture.pcap"), "wb") as f:
        f.write(pcap_bytes(example_packets()))
    with open(os.path.join(cap_dir, "capture.pcapng"), "wb") as f:
        f.write(pcapng_bytes(example_packets()))

    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        batch = convert_directory(spark, FIXDIR, PROC_TIME)
        batch.write.format("noop").mode("overwrite").save()
        batch.drop("udm_json").write.format("noop").mode("overwrite").save()
        pcap = project_udm(read_pcap(spark, cap_dir), PROC_TIME)
        pcap.write.format("noop").mode("overwrite").save()
        assert per_file_metrics(batch).count() == len(os.listdir(FIXDIR))
        assert per_file_metrics(pcap).count() == 2
        run_udm_stream(spark, FIXDIR, os.path.join(base, "out"), PROC_TIME)
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
