"""Source tests: RFC6587 framing, RFC3164 parsing, UDP/TCP collectors
(loopback), syslog encode round-trip."""

import socket
import time

from pyspark.sql import functions as F

from wp_motor_spark.sources.net import TcpCollector, UdpCollector
from wp_motor_spark.sources.syslog import (
    encode_rfc3164,
    frame_buffer,
    parse_rfc3164,
)


# ------------------------------------------------------------------ framing


def test_octet_counting():
    msgs, tail = frame_buffer(b"5 hello6 world!")
    assert msgs == [b"hello", b"world!"]
    assert tail == b""


def test_newline_fallback():
    msgs, tail = frame_buffer(b"line one\nline two\npartial")
    assert msgs == [b"line one", b"line two"]
    assert tail == b"partial"


def test_mixed_auto_detect():
    # octet frame followed by newline frames (RFC6587_FRAMING.md mixed mode)
    msgs, tail = frame_buffer(b"12 <34>octetmsgplain line\n")
    assert msgs == [b"<34>octetmsg", b"plain line"]
    assert tail == b""


def test_incomplete_octet_frame_waits():
    msgs, tail = frame_buffer(b"100 only-a-bit")
    assert msgs == []
    assert tail == b"100 only-a-bit"


def test_crlf_stripped():
    # extractor.rs pins: every '\r' in the line is removed (compaction
    # loop, not just trailing CR), and "0 " is a VALID zero-length frame
    assert frame_buffer(b"ab\rcd\r\n") == ([b"abcd"], b"")
    assert frame_buffer(b"0 ") == ([b""], b"")  # consumed, empty payload
    msgs, _ = frame_buffer(b"msg a\r\nmsg b\r\n")
    assert msgs == [b"msg a", b"msg b"]


# ------------------------------------------------------------------ parsing


def test_parse_rfc3164(spark):
    lines = [
        "<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed",
        "<190>May 15 2023 07:09:12 KM-KJY-DC-USG12004-B02 POLICY: CID=1",
        "not syslog at all",
    ]
    df = parse_rfc3164(spark.createDataFrame([(x,) for x in lines], ["value"]))
    rows = df.collect()
    assert rows[0]["pri"] == 34 and rows[0]["facility"] == 4 and rows[0]["severity"] == 2
    assert rows[0]["host"] == "mymachine" and rows[0]["app"] == "su" and rows[0]["pid"] == 230
    assert rows[0]["msg"] == "'su root' failed"
    assert rows[1]["pri"] == 190 and str(rows[1]["ts"]).startswith("2023-05-15")
    assert rows[2]["_syslog_ok"] is False


def test_encode_round_trip(spark):
    df = spark.createDataFrame([(34, "host1", "app1", "hello world")], "pri int, h string, a string, m string")
    line = df.select(
        encode_rfc3164(F.col("pri"), F.lit(None), F.col("h"), F.col("a"), F.col("m")).alias("value")
    )
    back = parse_rfc3164(line).collect()[0]
    assert back["pri"] == 34 and back["host"] == "host1"
    assert back["app"] == "app1" and back["msg"] == "hello world"


# ---------------------------------------------------------------- collectors


def test_udp_collector(spark, tmp_path):
    spool = str(tmp_path / "udp")
    c = UdpCollector("127.0.0.1", 0, spool).start()
    s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    for i in range(5):
        s.sendto(f"<13>Oct 11 22:14:0{i} h app: m{i}".encode(), ("127.0.0.1", c.port))
    time.sleep(0.5)
    c.stop()
    df = spark.read.text(spool)
    assert df.count() == 5
    parsed = parse_rfc3164(df)
    assert parsed.where(F.col("_syslog_ok")).count() == 5


def test_wp_socket_datasource(spark):
    """spark.readStream.format('wp_socket') end-to-end over loopback TCP."""
    from wp_motor_spark.sources import datasource

    datasource.register(spark)
    port = 15515
    df = (
        spark.readStream.format("wp_socket")
        .option("port", port)
        .option("mode", "tcp")
        .load()
    )
    q = df.writeStream.format("memory").queryName("sockt").start()
    try:
        # listener binds lazily on the first offset request — retry connect
        s = None
        for _ in range(60):
            try:
                s = socket.create_connection(("127.0.0.1", port), timeout=1)
                break
            except OSError:
                time.sleep(0.5)
        assert s is not None, "wp_socket listener never bound"
        s.sendall(b"5 hello")
        s.sendall(b"plain\n")
        s.close()
        time.sleep(1)
        q.processAllAvailable()
        got = sorted(r["value"] for r in spark.sql("select * from sockt").collect())
        assert got == ["hello", "plain"]
    finally:
        q.stop()


def test_tcp_collector_framing(spark, tmp_path):
    spool = str(tmp_path / "tcp")
    c = TcpCollector("127.0.0.1", 0, spool).start()
    s = socket.create_connection(("127.0.0.1", c.port))
    s.sendall(b"5 hello")          # octet counting
    s.sendall(b"newline msg\n")    # non-transparent
    s.close()
    time.sleep(0.7)
    c.stop()
    vals = sorted(r["value"] for r in spark.read.text(spool).collect())
    assert vals == ["hello", "newline msg"]


# ------------------------------------------------------------- net sinks


def test_tcp_sink_roundtrip(spark, tmp_path):
    """write_tcp -> TcpCollector: frames survive the wire both framings."""
    from wp_motor_spark.sinks.net import write_tcp

    spool = str(tmp_path / "sink_tcp")
    c = TcpCollector("127.0.0.1", 0, spool).start()
    df = spark.createDataFrame([("alpha",), ("beta gamma",)], ["line"]).coalesce(1)
    assert write_tcp(df, "127.0.0.1", c.port, framing="octet") == 2
    time.sleep(0.7)
    c.stop()
    vals = sorted(r["value"] for r in spark.read.text(spool).collect())
    assert vals == ["alpha", "beta gamma"]


def test_syslog_sink_roundtrip(spark, tmp_path):
    """syslog_lines -> write_syslog(udp) -> UdpCollector -> parse_rfc3164."""
    from wp_motor_spark.sinks.net import syslog_lines, write_syslog

    spool = str(tmp_path / "sink_udp")
    c = UdpCollector("127.0.0.1", 0, spool).start()
    df = spark.createDataFrame([("hello world",)], ["msg"])
    lines = syslog_lines(df, F.col("msg"), pri=F.lit(34), host=F.lit("h1"), app=F.lit("a1"))
    assert write_syslog(lines, "127.0.0.1", c.port, proto="udp") == 1
    time.sleep(0.5)
    c.stop()
    back = parse_rfc3164(spark.read.text(spool)).collect()[0]
    assert back["pri"] == 34 and back["host"] == "h1" and back["msg"] == "hello world"


def test_victorialogs_sink_loopback(spark):
    """VictoriaLogs sink (16-victorialogs.md): JSON lines with _msg +
    nanosecond _time POSTed to endpoint+insert_path; create_time_field
    preferred when present; empty endpoint is a validation error."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    import pytest as _pytest

    from wp_motor_spark.sinks.victorialogs import write_victorialogs

    got = []

    class H(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            got.append((self.path, body.decode()))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        df = spark.createDataFrame(
            [("hello", "2024-01-02 03:04:05"), ("world", "2024-01-02 03:04:06")],
            ["line", "evt_ts"],
        ).coalesce(1)
        sent = write_victorialogs(
            df,
            f"http://127.0.0.1:{port}",
            "/insert/jsonline",
            create_time_col="evt_ts",
        )
        path, body = got[0]
        assert path == "/insert/jsonline"
        recs = [json.loads(ln) for ln in body.strip().split("\n")]
        assert sent == sum(len(b.strip().split("\n")) for _p, b in got) == 2
        assert sorted(r["_msg"] for r in recs) == ["hello", "world"]
        # _time comes from the record's time field (2024-01-02T03:04:05 UTC)
        want_ns = 1704164645 * 10**9
        assert want_ns in {r["_time"] for r in recs}
        with _pytest.raises(ValueError, match="endpoint"):
            write_victorialogs(df, "", "/x")
    finally:
        srv.shutdown()


def test_syslog_header_modes(spark):
    """header_mode (04-syslog_source.md): keep passes through, strip
    removes just the header (fast_strip = one regexp pass, same output),
    parse strips AND injects the header fields as tag columns;
    unparseable lines pass through unchanged in every mode."""
    from wp_motor_spark.sources.syslog import apply_header_mode

    line = "<34>Oct 11 22:14:15 myhost sshd[123]: Failed password for root"
    junk = "no header at all"
    # extra columns (e.g. wp_src_ip from the collectors) must survive
    df = spark.createDataFrame(
        [(line, "9.9.9.9"), (junk, "8.8.8.8")], ["value", "wp_src_ip"]
    )

    assert [r["value"] for r in apply_header_mode(df, "keep").collect()] == [
        line, junk,
    ]
    for fs in (False, True):
        out = apply_header_mode(df, "strip", fast_strip=fs)
        assert [r["value"] for r in out.collect()] == [
            "Failed password for root", junk,
        ]
        assert "wp_src_ip" in out.columns
    p = apply_header_mode(df, "parse")
    rows = p.collect()
    assert [r["value"] for r in rows] == ["Failed password for root", junk]
    assert rows[0]["host"] == "myhost" and rows[0]["app"] == "sshd"
    assert rows[0]["pri"] == 34 and rows[0]["facility"] == 4
    assert rows[0]["wp_src_ip"] == "9.9.9.9"  # preserved through parse
    assert rows[1]["host"] is None
