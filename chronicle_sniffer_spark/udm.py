"""UDM projection core — the engine's equivalent of the reference's
``convert_single_packet_to_udm`` (json2udm_cloud.py:91-317), expressed
as pure Catalyst column expressions (no Python UDFs in the hot path).

Input: DataFrame from :mod:`sources.json_source` with columns
``_source`` (VARIANT), ``_corrupt_record`` (string), ``source_file``.
Output columns:

- ``event``       nested struct (schemas.UDM_EVENT_SCHEMA)
- ``udm_json``    serialized ``{"event": ...}`` with null/empty
                  sections elided (ref clean_none_values, :266-291)
- ``event_ts``    typed TimestampType event timestamp
- ``event_type``  top-level classification string
- ``is_error``    true for PacketProcessingError quarantine events
                  (never dropped — one-in-one-out invariant, SURVEY
                  §2C.1); matches the reference's UDM_PACKET_ERRORS
                  counter, which counts only processing errors
                  (json2udm_cloud.py:340)
- ``is_malformed`` true for malformed-but-parsed packets (falsy
                  ``layers``; counted separately — the reference does
                  NOT include these in UDM_PACKET_ERRORS)
- ``source_file`` originating file

Semantics preserved (SURVEY §2C):
- classifier last-writer-wins: TLS > DNS > HTTP; ICMP/ARP only from
  the transport elif chain (:136,165,169,180,197,227)
- ARP overwrites eth-derived MACs/IPs, even with nulls (:149-151,172-175)
- DNS name/type zip is index-guarded; type key omitted when missing (:207)
- tls.record dict-or-list polymorphism; only the first record (:233-236)
- empty-section elision + `about` any-non-falsy filter (:266-291)
- injectable processing_time replaces datetime.now() (:28,42,106,300)
- per-packet error quarantine with int()/attribute-error parity,
  including Python's error message text and first-failure ordering
  (:296-317; ports :156-157,161-162, status :191, TTLs :215)

Performance: the hot path does NO ``schema_of_variant`` and NO
``to_json`` on well-formed rows.  ``layers`` is cast once to
``map<string, variant>`` (a shallow re-slice, not a deep walk); each
layer's raw sub-variant comes from one map lookup, and "is a
non-empty object" / "is a truthy non-dict" flags are derived from
shallow ``try_cast(... AS map<string, variant>)`` probes.  The deep
``schema_of_variant`` walks (needed only for Python-type error
message text) and ``to_json`` truthiness probes sit inside CASE
branches that short-circuit on the object-typed fast path, so they
evaluate only for the rare malformed/error rows.  (The round-1
version materialized ~25 unconditional schema walks per row; this
formulation benches ~3× faster on the B1 corpus.)

Codegen layout: the projection is built from codegen-supported
builtins except for one lambda — "first answer TTL that fails int()"
needs a ``filter``.  A higher-order function is a ``CodegenFallback``
expression, so the ``_error_msg`` Project that holds it leaves
whole-stage codegen; that Project is the planned stage boundary.  The
scan and :func:`_stage1` fuse into one compiled stage below it, the
event assembly and the sink into another above it, and the boundary
itself still runs a compiled ``UnsafeProjection`` in which only the
lambda subtree is interpreted (and only on rows with a DNS layer).
The lambda must not move below stage 1: scan, stage 1 and the event
assembly would then fuse into ONE stage whose generated method exceeds
Janino's 64 KB limit, and Spark retries that compile and falls back to
interpreted evaluation on every job, because failed compiles are not
cached (``tests/test_udm.py`` runs each UDM job shape with the
fallback disabled).

Documented intent-over-literal deviations from the reference:
- frame number: the reference's ``get_nested_value(pkt,
  "_source.layers.frame.frame.number")`` can never resolve (tshark
  keys contain literal dots that a dot-split path walker cannot
  traverse, json2udm_cloud.py:54,101), so its descriptions always say
  "N/A".  We extract the actual ``frame.number``.
- SNI: the reference's ``get_nested_value(handshake_data,
  "tls.handshake.extensions_server_name")`` (:248) has the same
  dot-path flaw and always yields None; we read the field directly
  (declared intent per the UDM schema, SURVEY §1.3, and test/readme.md).
- error-event packet snippet: the reference embeds
  ``json.dumps(packet_data)`` (:305) preserving source key order; we
  embed the canonical minified sorted-key form (VARIANT serialization),
  same information, deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chronicle_sniffer_spark.schemas import DNS_ANSWERS_DDL, DNS_QUERIES_DDL, LAYER_DDL

# JSON texts of Python-falsy scalars: '' , 0, 0.0, False, [], {}, None.
_FALSY_JSON = "('\"\"', '0', '0.0', '-0.0', 'false', '[]', '{}', 'null')"

_PRODUCT = "Wireshark TShark"
_PRODUCT_MALFORMED = "Wireshark TShark (Malformed)"
_PRODUCT_ERROR = "Wireshark TShark (PacketProcessingError)"
_VENDOR = "Wireshark"

_TS_FMT_MICRO = "MMM d, yyyy H:mm:ss.SSSSSS"
_TS_FMT_PLAIN = "MMM d, yyyy H:mm:ss"
_ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"

_LAYERS = (*LAYER_DDL, "dns", "tls")

_PRINCIPAL_DDL = "struct<ip string, mac string, port int>"
_NETWORK_DDL = (
    "struct<ip_protocol_version int, transport_protocol string, tcp_flags string,"
    " icmp_type string, icmp_code string, application_protocol_data"
    " struct<http struct<host string, file_data string, method string, url string,"
    " user_agent string, status_code int>, dns struct<queries array<struct<name string,"
    " type string>>, answer_ttls array<int>, is_response boolean>,"
    " tls struct<record_version_protocol string, handshake_protocol_version string,"
    " server_name_indication string>>>"
)
_ABOUT_DDL = "array<struct<hostname string, url string>>"


def _pytype(sch_expr: str) -> str:
    """Python type name for the AttributeError message."""
    return (
        f"CASE WHEN {sch_expr} LIKE 'ARRAY%' THEN 'list'"
        f" WHEN {sch_expr} = 'STRING' THEN 'str'"
        f" WHEN {sch_expr} = 'BOOLEAN' THEN 'bool'"
        f" WHEN {sch_expr} IN ('TINYINT','SMALLINT','INT','BIGINT') THEN 'int'"
        f" WHEN {sch_expr} IN ('FLOAT','DOUBLE') OR {sch_expr} LIKE 'DECIMAL%' THEN 'float'"
        f" ELSE 'dict' END"
    )


def _attr_err(sch_expr: str) -> Column:
    return F.expr(f"concat('''', {_pytype(sch_expr)}, ''' object has no attribute ''get''')")


def _int_err(value_expr: str) -> Column:
    return F.expr(f"concat('invalid literal for int() with base 10: ''', {value_expr}, '''')")


_MAPV = "map<string, variant>"


def _stage1(df: DataFrame) -> DataFrame:
    """Materialize, once per row: the layers variant (as a shallow
    ``map<string, variant>``), each layer's raw sub-variant + typed
    struct + presence/badness flags, the DNS query/answer lists, and
    the first TLS record's fields.

    The object-shape probes are ``try_cast(v AS map<string,variant>)``
    — NULL for any non-object, ``{}`` for the empty object — which
    touch only the variant's top level.  No ``schema_of_variant`` (a
    deep recursive walk) runs here; schema text is computed lazily in
    the error branches of :func:`project_udm` only.
    """
    out = df.withColumn("layers", F.expr("try_variant_get(_source, '$.layers')")).withColumn(
        "M_layers", F.expr(f"try_cast(layers AS {_MAPV})")
    )
    vcols = {f"V_{name}": F.expr(f"try_element_at(M_layers, '{name}')") for name in _LAYERS}
    out = out.withColumns(vcols)
    # Shape probes: map<string,STRING>, not map<string,variant> — the
    # cast is lenient (nested values serialize to their JSON text,
    # scalars coerce, {} -> empty map, non-object -> NULL), carries
    # identical is-object/is-empty information, and skips the
    # per-value VariantVal materialization that benchmarked as the
    # single most expensive stage-1 component.  Only dns/tls keep
    # variant-valued maps — their nested values feed further variant
    # extraction.
    cols: dict[str, Column] = {
        f"M_{name}": F.expr(
            f"try_cast(V_{name} AS {_MAPV if name in ('dns', 'tls') else 'map<string,string>'})"
        )
        for name in _LAYERS
    }
    for name, ddl in LAYER_DDL.items():
        cols[f"L_{name}"] = F.expr(f"try_cast(V_{name} AS {ddl})")
    out = out.withColumns(cols)

    flags: dict[str, Column] = {}
    for name in _LAYERS:
        m, v = f"M_{name}", f"V_{name}"
        # IS NOT NULL first: absent layer must yield FALSE, not NULL,
        # or negations in the elif-branch conditions go three-valued
        flags[f"P_{name}"] = F.expr(f"({m} IS NOT NULL AND size({m}) > 0)")
        # Python-truthy non-dict → AttributeError on .get; to_json only
        # evaluated on the rare non-object branch (short-circuit AND)
        flags[f"B_{name}"] = F.expr(
            f"({v} IS NOT NULL AND {m} IS NULL AND to_json({v}) NOT IN {_FALSY_JSON})"
        )
    out = out.withColumns(flags)
    truthy = {f"T_{name}": F.col(f"P_{name}") | F.col(f"B_{name}") for name in _LAYERS}
    out = out.withColumns(truthy)

    return out.withColumns(
        {
            # map-key lookups traverse literal-dot keys the reference's
            # dot-split path walker never could (json2udm_cloud.py:54)
            "dns_queries": F.expr(
                f"try_cast(try_element_at(M_dns, 'Queries') AS {DNS_QUERIES_DDL})"
            ),
            "dns_answers": F.expr(
                f"try_cast(try_element_at(M_dns, 'Answers') AS {DNS_ANSWERS_DDL})"
            ),
            "V_flags_tree": F.expr("try_element_at(M_dns, 'dns.flags_tree')"),
            "V_tls_record": F.expr("try_element_at(M_tls, 'tls.record')"),
        }
    ).withColumns(
        {
            "M_flags_tree": F.expr(f"try_cast(V_flags_tree AS {_MAPV})"),
            # tls.record: dict OR list; only the FIRST record is analyzed
            # (SURVEY §2C.7; json2udm_cloud.py:233-236)
            "tls_rec": F.expr(
                f"CASE WHEN try_cast(V_tls_record AS {_MAPV}) IS NOT NULL THEN V_tls_record"
                f"     WHEN try_cast(V_tls_record AS array<variant>) IS NOT NULL"
                f"     THEN try_element_at(try_cast(V_tls_record AS array<variant>), 1)"
                f"     END"
            ),
        }
    ).withColumns(
        {
            "dns_response_flag": F.expr(
                "try_cast(try_element_at(M_flags_tree, 'dns.flags.response') AS string)"
            ),
            "M_tls_rec": F.expr(f"try_cast(tls_rec AS {_MAPV})"),
        }
    ).withColumns(
        {
            "tls_rec_version": F.expr(
                "try_cast(try_element_at(M_tls_rec, 'tls.record.version') AS string)"
            ),
            "V_tls_hs": F.expr("try_element_at(M_tls_rec, 'tls.handshake')"),
        }
    ).withColumns(
        {"M_tls_hs": F.expr(f"try_cast(V_tls_hs AS {_MAPV})")}
    ).withColumns(
        {
            "tls_hs_version": F.expr(
                "try_cast(try_element_at(M_tls_hs, 'tls.handshake.version') AS string)"
            ),
            "tls_sni": F.expr(
                "try_cast(try_element_at(M_tls_hs,"
                " 'tls.handshake.extensions_server_name') AS string)"
            ),
        }
    )


def project_udm(df: DataFrame, processing_time: str) -> DataFrame:
    """Project raw packets to UDM events (one in → one out, always).

    ``processing_time`` is the injected deterministic stand-in for the
    reference's ``datetime.now()`` fallbacks (SURVEY §2C.4), as an
    ISO-8601 string like ``2025-01-01T00:00:00.000000Z``.
    """
    proc_ts = F.lit(processing_time)

    stage1 = _stage1(df)

    # ---- dns arrays, codegen-safe (no lambdas) ---------------------------
    # Null-compaction via concat_ws/split: concat_ws skips NULL elements
    # and keeps empty strings, so split(concat_ws(S, arr), S) equals
    # filter(arr, v -> v IS NOT NULL) for every array whose values don't
    # contain the \x01 sentinel (tshark JSON emits printable DNS fields;
    # documented exactness caveat).  The all-dropped result '' is
    # disambiguated with array_max: NULL max means every element was
    # NULL (-> empty), a non-NULL max means a lone '' survived.
    _SEP = "\x01"

    def _compact(raw_expr: str) -> str:
        joined = f"concat_ws('{_SEP}', {raw_expr})"
        return (
            f"CASE WHEN ({raw_expr}) IS NULL THEN NULL"
            f" WHEN {joined} != '' THEN split({joined}, '{_SEP}')"
            f" WHEN array_max({raw_expr}) IS NOT NULL THEN array('')"
            f" ELSE CAST(array() AS array<string>) END"
        )

    stage1 = stage1.withColumns(
        {
            "q_names": F.expr(_compact("map_values(dns_queries).`dns.qry.name`")),
            "q_types": F.expr(_compact("map_values(dns_queries).`dns.qry.type`")),
            "a_ttls": F.expr(_compact("map_values(dns_answers).`dns.resp.ttl`")),
        }
    )

    P = lambda n: F.col(f"P_{n}")  # noqa: E731  (non-empty dict)
    B = lambda n: F.col(f"B_{n}")  # noqa: E731  (truthy non-dict → error)
    T = lambda n: F.col(f"T_{n}")  # noqa: E731  (Python-truthy)
    fld = lambda layer, f: F.col(f"L_{layer}.`{f}`")  # noqa: E731

    ip_branch = P("ip")
    ipv6_branch = ~T("ip") & P("ipv6")
    tcp_branch = P("tcp")
    udp_branch = ~T("tcp") & P("udp")
    icmp_branch = ~T("tcp") & ~T("udp") & P("icmp")
    arp_branch = ~T("tcp") & ~T("udp") & ~T("icmp") & P("arp")
    dns_present = P("dns")

    # ---- timestamp chain (ref convert_timestamp_robust, :19-46) ----------
    # [:26] truncation reproduces Python's quirk of capping the fraction
    # at whatever fits in 26 chars (4 digits for 2-digit days).
    ts_str = fld("frame", "frame.time_utc")
    parsed_ts = F.coalesce(
        F.try_to_timestamp(F.substring(ts_str, 1, 26), F.lit(_TS_FMT_MICRO)),
        F.try_to_timestamp(
            F.trim(F.regexp_replace(ts_str, " (UTC|Central European Summer Time).*$", "")),
            F.lit(_TS_FMT_PLAIN),
        ),
    )
    # (the ISO form of the timestamp is built later, over the
    # materialized _parsed_ts column — see event_ts_iso_col)

    # ---- classifier (last-writer-wins; SURVEY §2C.2) ---------------------
    event_type = (
        F.when(P("tls"), "NETWORK_SSL")
        .when(dns_present, "NETWORK_DNS")
        .when(P("http"), "NETWORK_HTTP")
        .when(icmp_branch, "NETWORK_ICMP")
        .when(arp_branch, "NETWORK_ARP")
        .otherwise("NETWORK_CONNECTION")
    )

    # ---- principal / target (ARP overwrite trap, SURVEY §2C.5) ----------
    p_ip = F.when(arp_branch, fld("arp", "arp.src.proto_ipv4")).otherwise(
        F.when(ip_branch, fld("ip", "ip.src")).when(ipv6_branch, fld("ipv6", "ipv6.src"))
    )
    t_ip = F.when(arp_branch, fld("arp", "arp.dst.proto_ipv4")).otherwise(
        F.when(ip_branch, fld("ip", "ip.dst")).when(ipv6_branch, fld("ipv6", "ipv6.dst"))
    )
    p_mac = F.when(arp_branch, fld("arp", "arp.src.hw_mac")).otherwise(
        F.when(P("eth"), fld("eth", "eth.src"))
    )
    t_mac = F.when(arp_branch, fld("arp", "arp.dst.hw_mac")).otherwise(
        F.when(P("eth"), fld("eth", "eth.dst"))
    )
    p_port = F.when(tcp_branch, F.expr("try_cast(L_tcp.`tcp.srcport` AS int)")).when(
        udp_branch, F.expr("try_cast(L_udp.`udp.srcport` AS int)")
    )
    t_port = F.when(tcp_branch, F.expr("try_cast(L_tcp.`tcp.dstport` AS int)")).when(
        udp_branch, F.expr("try_cast(L_udp.`udp.dstport` AS int)")
    )

    # ---- network ---------------------------------------------------------
    ipv = F.when(ip_branch, F.lit(4)).when(ipv6_branch, F.lit(6)).cast("int")
    transport = F.when(tcp_branch, "TCP").when(udp_branch, "UDP").when(icmp_branch, "ICMP")
    tcp_flags = F.when(tcp_branch, fld("tcp", "tcp.flags"))
    icmp_type = F.when(icmp_branch, fld("icmp", "icmp.type"))
    icmp_code = F.when(icmp_branch, fld("icmp", "icmp.code"))

    # ---- HTTP (truthy-string guards; ref :179-192) -----------------------
    def truthy_str(col: Column) -> Column:
        return col.isNotNull() & (col != "")

    h = {
        "host": fld("http", "http.host"),
        "file_data": fld("http", "http.file_data"),
        "method": fld("http", "http.request.method"),
        "url": fld("http", "http.request.full_uri"),
        "user_agent": fld("http", "http.user_agent"),
        "code": fld("http", "http.response.code"),
    }
    http_guard = lambda col: F.when(P("http") & truthy_str(col), col)  # noqa: E731
    http_status = F.when(
        P("http") & truthy_str(h["code"]),
        F.expr("try_cast(L_http.`http.response.code` AS int)"),
    )
    http_info = F.struct(
        http_guard(h["host"]).alias("host"),
        http_guard(h["file_data"]).alias("file_data"),
        http_guard(h["method"]).alias("method"),
        http_guard(h["url"]).alias("url"),
        http_guard(h["user_agent"]).alias("user_agent"),
        http_status.alias("status_code"),
    )
    http_info_nonempty = P("http") & (
        truthy_str(h["host"])
        | truthy_str(h["file_data"])
        | truthy_str(h["method"])
        | truthy_str(h["url"])
        | truthy_str(h["user_agent"])
        | truthy_str(h["code"])
    )

    # ---- DNS (index-guarded zip, SURVEY §2C.6; ref :194-223) -------------
    # arrays_zip pads the shorter side with NULLs and slice(.., 1,
    # size(q_names)) trims to the names' length — identical to the
    # reference's `if i < len(q_types)` guard, without a lambda.
    queries_arr = F.expr(
        "CAST(slice(arrays_zip(q_names, q_types), 1, size(q_names))"
        " AS array<struct<name string, type string>>)"
    )
    # try_cast on an array applies per element (NULL on failure) — same
    # as transform(a_ttls, t -> try_cast(t AS int)), lambda-free.
    a_ttls_int = F.expr("try_cast(a_ttls AS array<int>)")
    has_queries = dns_present & (F.size("q_names") > 0)
    has_answers = dns_present & (F.size("a_ttls") > 0)
    has_resp_flag = dns_present & F.col("dns_response_flag").isNotNull()
    dns_info = F.struct(
        F.when(has_queries, queries_arr).alias("queries"),
        F.when(has_answers, a_ttls_int).alias("answer_ttls"),
        F.when(has_resp_flag, F.col("dns_response_flag") == "1").alias("is_response"),
    )
    dns_info_nonempty = has_queries | has_answers | has_resp_flag

    # ---- TLS (ref :226-253) ----------------------------------------------
    tls_info = F.struct(
        F.when(P("tls") & truthy_str(F.col("tls_rec_version")), F.col("tls_rec_version")).alias(
            "record_version_protocol"
        ),
        F.when(P("tls") & truthy_str(F.col("tls_hs_version")), F.col("tls_hs_version")).alias(
            "handshake_protocol_version"
        ),
        F.when(P("tls") & truthy_str(F.col("tls_sni")), F.col("tls_sni")).alias(
            "server_name_indication"
        ),
    )
    tls_info_nonempty = P("tls") & (
        truthy_str(F.col("tls_rec_version"))
        | truthy_str(F.col("tls_hs_version"))
        | truthy_str(F.col("tls_sni"))
    )

    app_nonempty = http_info_nonempty | dns_info_nonempty | tls_info_nonempty
    app_data = F.when(
        app_nonempty,
        F.struct(
            F.when(http_info_nonempty, http_info).alias("http"),
            F.when(dns_info_nonempty, dns_info).alias("dns"),
            F.when(tls_info_nonempty, tls_info).alias("tls"),
        ),
    )

    # ---- about (append order: http host, http url, dns names, sni) ------
    # The reference's final truthy filter (ref :283) drops ""-only
    # items; the http/tls entries are truthy-guarded at construction,
    # so only the dns names need the "" scrub — array_remove does it
    # lambda-free, and arrays_zip-with-empty + cast turns the names
    # into {hostname, url: NULL} structs without a transform.
    empty_about = F.expr(f"CAST(array() AS {_ABOUT_DDL})")
    about_http_host = F.when(
        P("http") & truthy_str(h["host"]),
        F.array(F.struct(h["host"].alias("hostname"), F.lit(None).cast("string").alias("url"))),
    ).otherwise(empty_about)
    about_http_url = F.when(
        P("http") & truthy_str(h["url"]),
        F.array(F.struct(F.lit(None).cast("string").alias("hostname"), h["url"].alias("url"))),
    ).otherwise(empty_about)
    about_dns = F.when(
        has_queries,
        F.expr(
            f"CAST(arrays_zip(array_remove(q_names, ''), CAST(array() AS array<string>))"
            f" AS {_ABOUT_DDL})"
        ),
    ).otherwise(empty_about)
    about_tls = F.when(
        P("tls") & truthy_str(F.col("tls_sni")),
        F.array(
            F.struct(F.col("tls_sni").alias("hostname"), F.lit(None).cast("string").alias("url"))
        ),
    ).otherwise(empty_about)
    about_all = F.concat(about_http_host, about_http_url, about_dns, about_tls)
    about_col = F.when(F.size(about_all) > 0, about_all)

    # ---- additional ------------------------------------------------------
    empty_map = F.expr("map()").cast("map<string,string>")
    additional = F.map_concat(
        F.when(
            ip_branch & fld("ip", "ip.ttl").isNotNull(),
            F.create_map(F.lit("ip_ttl"), fld("ip", "ip.ttl")),
        ).otherwise(empty_map),
        F.when(
            arp_branch & fld("arp", "arp.opcode").isNotNull(),
            F.create_map(F.lit("arp_operation"), fld("arp", "arp.opcode")),
        ).otherwise(empty_map),
    )
    additional_col = F.when(F.size(additional) > 0, additional)

    # ---- descriptions ----------------------------------------------------
    packet_num = F.coalesce(fld("frame", "frame.number"), F.lit("N/A"))
    protocols = F.coalesce(fld("frame", "frame.protocols"), F.lit("N/A"))
    description = F.concat(
        F.lit("Packet capture. Protocols: "), protocols, F.lit(". Frame No: "), packet_num
    )

    # ---- error chain (ordered as Python executes; ref :296-317) ----------
    # A non-object _source implies layers IS NULL (path extraction on a
    # scalar yields NULL), so the guard keeps the shape probes off the
    # fast path entirely.
    src_bad = F.expr(
        f"(layers IS NULL AND _source IS NOT NULL"
        f" AND try_cast(_source AS {_MAPV}) IS NULL"
        f" AND to_json(_source) NOT IN {_FALSY_JSON})"
    )
    corrupt_elem = F.col("_corrupt_record").isNotNull() & F.col("_source").isNull()
    corrupt_pytype = F.expr(
        "CASE WHEN left(ltrim(_corrupt_record), 1) = '\"' THEN 'str'"
        " WHEN left(ltrim(_corrupt_record), 1) = '[' THEN 'list'"
        " WHEN ltrim(_corrupt_record) IN ('true','false') THEN 'bool'"
        " WHEN ltrim(_corrupt_record) = 'null' THEN 'NoneType'"
        " WHEN _corrupt_record RLIKE '^\\\\s*-?[0-9]+\\\\s*$' THEN 'int'"
        " WHEN _corrupt_record RLIKE '^\\\\s*-?[0-9.eE+-]+\\\\s*$' THEN 'float'"
        " ELSE 'str' END"
    )
    layers_bad = F.expr(
        f"(layers IS NOT NULL AND M_layers IS NULL"
        f" AND to_json(layers) NOT IN {_FALSY_JSON})"
    )

    def int_fail(col_expr: str) -> Column:
        return F.expr(f"({col_expr} IS NOT NULL AND try_cast({col_expr} AS int) IS NULL)")

    # First answer TTL that fails int() (ref :215).  The filter lambda is
    # the projection's one interpreted expression and places the
    # whole-stage-codegen boundary at _error_msg (see module docstring).
    ttl_err = F.when(
        dns_present,
        _int_err(
            "try_element_at(filter(map_values(dns_answers).`dns.resp.ttl`,"
            " t -> t IS NOT NULL AND try_cast(t AS int) IS NULL), 1)"
        ),
    )
    flags_tree_bad = F.expr(
        f"(V_flags_tree IS NOT NULL AND M_flags_tree IS NULL"
        f" AND to_json(V_flags_tree) NOT IN {_FALSY_JSON})"
    )
    hs_bad = F.expr(
        f"(V_tls_hs IS NOT NULL AND M_tls_hs IS NULL"
        f" AND to_json(V_tls_hs) NOT IN {_FALSY_JSON})"
    )

    error_msg = (
        F.when(
            corrupt_elem,
            F.concat(F.lit("'"), corrupt_pytype, F.lit("' object has no attribute 'get'")),
        )
        .when(src_bad, _attr_err("schema_of_variant(_source)"))
        .when(layers_bad, _attr_err("schema_of_variant(layers)"))
        .when(B("frame"), _attr_err("schema_of_variant(V_frame)"))
        .when(B("ip"), _attr_err("schema_of_variant(V_ip)"))
        .when(~T("ip") & B("ipv6"), _attr_err("schema_of_variant(V_ipv6)"))
        .when(B("eth"), _attr_err("schema_of_variant(V_eth)"))
        .when(B("tcp"), _attr_err("schema_of_variant(V_tcp)"))
        .when(tcp_branch & int_fail("L_tcp.`tcp.srcport`"), _int_err("L_tcp.`tcp.srcport`"))
        .when(tcp_branch & int_fail("L_tcp.`tcp.dstport`"), _int_err("L_tcp.`tcp.dstport`"))
        .when(~T("tcp") & B("udp"), _attr_err("schema_of_variant(V_udp)"))
        .when(udp_branch & int_fail("L_udp.`udp.srcport`"), _int_err("L_udp.`udp.srcport`"))
        .when(udp_branch & int_fail("L_udp.`udp.dstport`"), _int_err("L_udp.`udp.dstport`"))
        .when(~T("tcp") & ~T("udp") & B("icmp"), _attr_err("schema_of_variant(V_icmp)"))
        .when(
            ~T("tcp") & ~T("udp") & ~T("icmp") & B("arp"),
            _attr_err("schema_of_variant(V_arp)"),
        )
        .when(B("http"), _attr_err("schema_of_variant(V_http)"))
        .when(
            P("http")
            & truthy_str(h["code"])
            & F.expr("try_cast(L_http.`http.response.code` AS int) IS NULL"),
            _int_err("L_http.`http.response.code`"),
        )
        .when(B("dns"), _attr_err("schema_of_variant(V_dns)"))
        .when(ttl_err.isNotNull(), ttl_err)
        .when(dns_present & flags_tree_bad, _attr_err("schema_of_variant(V_flags_tree)"))
        .when(B("tls"), _attr_err("schema_of_variant(V_tls)"))
        .when(P("tls") & hs_bad, _attr_err("schema_of_variant(V_tls_hs)"))
    )
    # malformed: layers falsy (absent / {} / falsy scalar); ref :103-111
    layers_falsy = F.expr(
        f"(layers IS NULL OR (M_layers IS NOT NULL AND size(M_layers) = 0)"
        f" OR (M_layers IS NULL AND to_json(layers) IN {_FALSY_JSON}))"
    )

    # ---- snippet (canonical minified sorted-key packet JSON) -------------
    raw_pkt = F.coalesce(
        F.expr("to_json(named_struct('_source', _source))"), F.col("_corrupt_record")
    )
    snippet = F.when(
        F.length(raw_pkt) > 1000, F.concat(F.substring(raw_pkt, 1, 1000), F.lit("..."))
    ).otherwise(raw_pkt)

    # ---- assemble the three event shapes ---------------------------------
    def metadata(ts: Column, product: str, etype: Column | str, desc: Column) -> Column:
        e = F.lit(etype) if isinstance(etype, str) else etype
        return F.struct(
            ts.alias("event_timestamp"),
            F.lit(product).alias("product_name"),
            F.lit(_VENDOR).alias("vendor_name"),
            e.alias("event_type"),
            desc.alias("description"),
        )

    principal = F.struct(p_ip.alias("ip"), p_mac.alias("mac"), p_port.alias("port"))
    target = F.struct(t_ip.alias("ip"), t_mac.alias("mac"), t_port.alias("port"))
    principal_col = F.when(p_ip.isNotNull() | p_mac.isNotNull() | p_port.isNotNull(), principal)
    target_col = F.when(t_ip.isNotNull() | t_mac.isNotNull() | t_port.isNotNull(), target)
    network = F.struct(
        ipv.alias("ip_protocol_version"),
        transport.alias("transport_protocol"),
        tcp_flags.alias("tcp_flags"),
        icmp_type.alias("icmp_type"),
        icmp_code.alias("icmp_code"),
        app_data.alias("application_protocol_data"),
    )
    network_col = F.when(
        ipv.isNotNull()
        | transport.isNotNull()
        | tcp_flags.isNotNull()
        | icmp_type.isNotNull()
        | icmp_code.isNotNull()
        | app_nonempty,
        network,
    )
    null_section = lambda ddl: F.lit(None).cast(ddl)  # noqa: E731

    # Malformed events carry ONLY metadata (ref :107-111).
    malformed_desc = F.concat(F.lit("Malformed packet data. Frame: "), packet_num)
    malformed_event = F.struct(
        metadata(proc_ts, _PRODUCT_MALFORMED, "NETWORK_EVENT_UNKNOWN", malformed_desc).alias(
            "metadata"
        ),
        null_section(_PRINCIPAL_DDL).alias("principal"),
        null_section(_PRINCIPAL_DDL).alias("target"),
        null_section(_NETWORK_DDL).alias("network"),
        null_section(_ABOUT_DDL).alias("about"),
        F.lit(None).cast("map<string,string>").alias("additional"),
    )
    err_frame = F.coalesce(fld("frame", "frame.number"), F.lit("N/A (error state)"))

    proc_ts_typed = F.to_timestamp(F.replace(proc_ts, F.lit("Z"), F.lit("")))

    # Expression-tree hygiene: every expensive sub-tree referenced more
    # than once below (the ~20-branch error CASE, the timestamp chain,
    # the three event shapes) is materialized as a named column first.
    # Inlining them instead multiplies the Catalyst tree — which is pure
    # driver/planning and per-task-deserialization weight (measured at
    # ~1 s fixed per job on the B1 corpus before this split).
    stage2 = stage1.withColumns(
        {
            "_error_msg": error_msg,
            "_parsed_ts": parsed_ts,
        }
    ).withColumns(
        {
            "_is_error": F.col("_error_msg").isNotNull(),
            "_is_malformed": F.col("_error_msg").isNull() & layers_falsy,
        }
    )

    # rebuild the few consumers of the materialized columns
    err_desc_col = F.concat(
        F.lit("Error during UDM conversion for packet. Frame No: "),
        err_frame,
        F.lit(". Error: "),
        F.col("_error_msg"),
    )
    error_event_col = F.struct(
        metadata(proc_ts, _PRODUCT_ERROR, "NETWORK_EVENT_ERROR", err_desc_col).alias("metadata"),
        null_section(_PRINCIPAL_DDL).alias("principal"),
        null_section(_PRINCIPAL_DDL).alias("target"),
        null_section(_NETWORK_DDL).alias("network"),
        null_section(_ABOUT_DDL).alias("about"),
        F.map_from_arrays(
            F.array(F.lit("processing_error_message"), F.lit("original_packet_data_snippet")),
            F.array(F.col("_error_msg"), snippet),
        ).alias("additional"),
    )
    event_ts_iso_col = F.when(
        (ts_str.isNotNull()) & (ts_str != "") & F.col("_parsed_ts").isNotNull(),
        F.date_format(F.col("_parsed_ts"), _ISO_FMT),
    ).otherwise(proc_ts)
    normal_event_col = F.struct(
        metadata(event_ts_iso_col, _PRODUCT, event_type, description).alias("metadata"),
        principal_col.alias("principal"),
        target_col.alias("target"),
        network_col.alias("network"),
        about_col.alias("about"),
        additional_col.alias("additional"),
    )

    stage3 = stage2.withColumns(
        {
            "event": F.when(F.col("_is_error"), error_event_col)
            .when(F.col("_is_malformed"), malformed_event)
            .otherwise(normal_event_col),
            # classifier computed directly, NOT extracted back out of the
            # event struct (extraction would re-inline the whole struct)
            "event_type": F.when(F.col("_is_error"), F.lit("NETWORK_EVENT_ERROR"))
            .when(F.col("_is_malformed"), F.lit("NETWORK_EVENT_UNKNOWN"))
            .otherwise(event_type),
            "event_ts": F.when(
                F.col("_is_error") | F.col("_is_malformed"), proc_ts_typed
            ).otherwise(F.coalesce(F.col("_parsed_ts"), proc_ts_typed)),
        }
    )

    return stage3.select(
        F.col("event"),
        # Lazy under column pruning: plans that don't select udm_json
        # (the parquet table sink, the B1 bench) never pay to_json.
        F.to_json(F.struct(F.col("event").alias("event"))).alias("udm_json"),
        F.col("event_ts"),
        F.col("event_type"),
        F.col("_is_error").alias("is_error"),
        F.col("_is_malformed").alias("is_malformed"),
        F.col("source_file"),
    )
