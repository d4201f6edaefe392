"""Network sink backends: TCP (framed) and syslog (UDP/TCP) writers.

Reference: src/sinks/backends/{tcp.rs,syslog.rs} + the RFC3164 encoder
(src/protocol/syslog/encoder.rs:36-48).

Shape: one `mapPartitions` job — each executor task opens one connection,
streams its partition and yields the rows it sent; their sum is the
delivered count (the Spark analog of the reference's per-sink
connection pool; N partitions = N concurrent connections). Used directly
for batch, and from foreachBatch for streaming.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from wp_motor_spark.sources.syslog import encode_rfc3164


def write_tcp(
    lines: DataFrame,
    host: str,
    port: int,
    framing: str = "newline",  # newline | octet (RFC6587 octet counting)
    col: str = "line",
) -> int:
    """Send one frame per row over TCP, one connection per partition;
    returns the rows sent."""

    def send(rows) -> list[int]:
        import socket

        sock, n = None, 0
        try:
            for n, r in enumerate(rows, 1):
                if sock is None:  # connect lazily: skip empty partitions
                    sock = socket.create_connection((host, port), timeout=10)
                msg = (r[col] or "").encode("utf-8")
                if framing == "octet":
                    sock.sendall(str(len(msg)).encode() + b" " + msg)
                else:
                    sock.sendall(msg + b"\n")
        finally:
            if sock is not None:
                sock.close()
        return [n]

    return lines.rdd.mapPartitions(send).sum()


def write_syslog(
    lines: DataFrame,
    host: str,
    port: int,
    proto: str = "udp",
    col: str = "line",
) -> int:
    """Send rows as syslog datagrams/frames. Rows should already be
    RFC3164-encoded (see `syslog_lines`); raw lines pass through as-is.
    Returns the rows sent."""
    if proto == "tcp":
        return write_tcp(lines, host, port, framing="newline", col=col)

    def send(rows) -> list[int]:
        import socket

        sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        n = 0
        try:
            for n, r in enumerate(rows, 1):
                sock.sendto((r[col] or "").encode("utf-8"), (host, port))
        finally:
            sock.close()
        return [n]

    return lines.rdd.mapPartitions(send).sum()


def syslog_lines(
    df: DataFrame,
    msg: Column,
    pri: Column | None = None,
    host: Column | None = None,
    app: Column | None = None,
    ts: Column | None = None,
) -> DataFrame:
    """Project a record DataFrame to RFC3164 `line`s for write_syslog."""
    return df.select(
        encode_rfc3164(
            pri if pri is not None else F.lit(13),
            ts if ts is not None else F.lit(None),
            host if host is not None else F.lit(None),
            app if app is not None else F.lit(None),
            msg,
        ).alias("line")
    )
