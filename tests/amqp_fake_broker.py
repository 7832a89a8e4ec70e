"""In-process AMQP 0-9-1 broker for the native-consumer contract tests.

Speaks REAL frames over a real socket — the client under test
(`cerebro_spark/sources/amqp_client.py`) is exercised byte-for-byte, not
mocked: protocol header, Start/Tune/Open handshake, channel open, queue
declare, Basic.Get / Get-Ok / Get-Empty with content header + body frames,
Basic.Ack (single and multiple), Connection.Close.  Unacked deliveries are
requeued (front, original order, redelivered flag set) when the client
disconnects — the broker behavior the ack-after-spool-write pump relies on.

Single-connection-at-a-time, sequential — matching the pump's usage.
"""

from __future__ import annotations

import socket
import struct
import threading
from collections import deque

from cerebro_spark.sources.amqp_client import (
    AMQPError,
    BASIC_ACK,
    BASIC_CANCEL,
    BASIC_CANCEL_OK,
    BASIC_CONSUME,
    BASIC_CONSUME_OK,
    BASIC_DELIVER,
    BASIC_GET,
    BASIC_GET_EMPTY,
    BASIC_GET_OK,
    BASIC_QOS,
    BASIC_QOS_OK,
    CHANNEL_CLOSE,
    CHANNEL_CLOSE_OK,
    CHANNEL_OPEN,
    CHANNEL_OPEN_OK,
    CONNECTION_CLOSE,
    CONNECTION_CLOSE_OK,
    CONNECTION_OPEN,
    CONNECTION_OPEN_OK,
    CONNECTION_START,
    CONNECTION_START_OK,
    CONNECTION_TUNE,
    CONNECTION_TUNE_OK,
    EXCHANGE_DECLARE,
    EXCHANGE_DECLARE_OK,
    FRAME_BODY,
    FRAME_HEADER,
    FRAME_METHOD,
    PROTOCOL_HEADER,
    QUEUE_BIND,
    QUEUE_BIND_OK,
    QUEUE_DECLARE,
    QUEUE_DECLARE_OK,
    build_frame,
    content_header_payload,
    empty_table,
    longstr,
    method_payload,
    parse_shortstr,
    read_frame,
    recv_exact,
    shortstr,
)


class FakeBroker(threading.Thread):
    def __init__(self, messages: list[tuple]):
        """``messages``: (routing_key, body) or (routing_key, body,
        headers_dict) — the 3-tuple form publishes a basic-properties
        headers table, as the reference's actor bus does for sender."""
        super().__init__(daemon=True)
        #: (routing_key, body, headers, redelivered)
        self.queue = deque(
            (m[0], m[1], m[2] if len(m) > 2 else None, False)
            for m in messages
        )
        self.unacked: dict[int, tuple[str, bytes, dict | None, bool]] = {}
        self.acked: list[int] = []
        #: raw SASL PLAIN response of the most recent handshake
        #: (b"\\0user\\0password") — lets tests pin which credentials a
        #: config-driven pump actually presented.
        self.last_sasl: bytes | None = None
        #: exchanges that "exist" (passive declares of others 404, like
        #: RabbitMQ); a topic exchange named 'actors' is pre-existing —
        #: the reference topology the consumer binds into.
        self.exchanges: set[str] = {"actors"}
        #: (queue, exchange, routing_key) bindings recorded verbatim.
        self.bindings: list[tuple[str, str, str]] = []
        self._tag = 0
        self._stopping = threading.Event()
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(1)
        self._srv.settimeout(0.2)
        self.port = self._srv.getsockname()[1]

    def stop(self) -> None:
        self._stopping.set()
        self.join(timeout=5)
        self._srv.close()

    def run(self) -> None:
        while not self._stopping.is_set():
            try:
                conn, _ = self._srv.accept()
            except socket.timeout:
                continue
            try:
                self._serve(conn)
            except (AMQPError, OSError, ConnectionError, IndexError, struct.error):
                pass  # client vanished mid-frame: fall through to requeue
            finally:
                conn.close()
                self._requeue_unacked()

    def _requeue_unacked(self) -> None:
        for tag in sorted(self.unacked, reverse=True):
            rk, body, headers, _ = self.unacked.pop(tag)
            self.queue.appendleft((rk, body, headers, True))

    # -- one client session ---------------------------------------------------

    def _send_method(self, conn, channel, cm, args=b"") -> None:
        conn.sendall(build_frame(FRAME_METHOD, channel, method_payload(*cm, args)))

    def _serve(self, conn: socket.socket) -> None:
        # push-mode session state (reset per connection, like a real channel)
        self._prefetch = 0
        self._consumer_tag: str | None = None
        conn.settimeout(10)
        if recv_exact(conn, 8) != PROTOCOL_HEADER:
            return
        self._send_method(
            conn, 0, CONNECTION_START,
            struct.pack(">BB", 0, 9) + empty_table()
            + longstr(b"PLAIN") + longstr(b"en_US"),
        )
        start_ok = self._expect(conn, CONNECTION_START_OK)
        # client-properties table, mechanism shortstr, response longstr
        (tbl_size,) = struct.unpack_from(">I", start_ok, 0)
        _mech, off = parse_shortstr(start_ok, 4 + tbl_size)
        (sasl_len,) = struct.unpack_from(">I", start_ok, off)
        self.last_sasl = start_ok[off + 4 : off + 4 + sasl_len]
        self._send_method(
            conn, 0, CONNECTION_TUNE, struct.pack(">HIH", 2047, 131072, 0)
        )
        self._expect(conn, CONNECTION_TUNE_OK)
        self._expect(conn, CONNECTION_OPEN)
        self._send_method(conn, 0, CONNECTION_OPEN_OK, shortstr(""))
        while True:
            cm, channel, args = self._read_method(conn)
            if cm == CHANNEL_OPEN:
                self._send_method(conn, channel, CHANNEL_OPEN_OK, longstr(b""))
            elif cm == QUEUE_DECLARE:
                name, off = parse_shortstr(args, 2)
                passive = bool(args[off] & 1)
                if passive and name != "telemetry":
                    # RabbitMQ behavior: passive declare of a missing queue
                    # fails the CHANNEL with 404 NOT_FOUND
                    self._send_method(
                        conn, channel, CHANNEL_CLOSE,
                        struct.pack(">H", 404)
                        + shortstr(f"NOT_FOUND - no queue '{name}'")
                        + struct.pack(">HH", *QUEUE_DECLARE),
                    )
                    self._expect(conn, CHANNEL_CLOSE_OK)
                    continue
                self._send_method(
                    conn, channel, QUEUE_DECLARE_OK,
                    shortstr(name) + struct.pack(">II", len(self.queue), 0),
                )
            elif cm == EXCHANGE_DECLARE:
                name, off = parse_shortstr(args, 2)
                _type, off = parse_shortstr(args, off)
                passive = bool(args[off] & 1)
                if passive and name not in self.exchanges:
                    self._send_method(
                        conn, channel, CHANNEL_CLOSE,
                        struct.pack(">H", 404)
                        + shortstr(f"NOT_FOUND - no exchange '{name}'")
                        + struct.pack(">HH", *EXCHANGE_DECLARE),
                    )
                    self._expect(conn, CHANNEL_CLOSE_OK)
                    continue
                self.exchanges.add(name)
                self._send_method(conn, channel, EXCHANGE_DECLARE_OK)
            elif cm == QUEUE_BIND:
                q, off = parse_shortstr(args, 2)
                ex, off = parse_shortstr(args, off)
                rk, off = parse_shortstr(args, off)
                self.bindings.append((q, ex, rk))
                self._send_method(conn, channel, QUEUE_BIND_OK)
            elif cm == BASIC_GET:
                self._basic_get(conn, channel, args)
            elif cm == BASIC_QOS:
                _size, count = struct.unpack_from(">IH", args, 0)
                self._prefetch = count
                self._send_method(conn, channel, BASIC_QOS_OK)
            elif cm == BASIC_CONSUME:
                _q, off = parse_shortstr(args, 2)
                self._consumer_tag = "ctag-fake-1"
                self._send_method(
                    conn, channel, BASIC_CONSUME_OK,
                    shortstr(self._consumer_tag),
                )
                self._push_ready(conn, channel)
            elif cm == BASIC_CANCEL:
                tag_s, _off = parse_shortstr(args, 0)
                assert tag_s == self._consumer_tag
                self._consumer_tag = None
                self._send_method(conn, channel, BASIC_CANCEL_OK, shortstr(tag_s))
            elif cm == BASIC_ACK:
                (tag,) = struct.unpack_from(">Q", args, 0)
                multiple = args[8] == 1
                tags = (
                    [t for t in self.unacked if t <= tag] if multiple else [tag]
                )
                for t in tags:
                    self.unacked.pop(t, None)
                    self.acked.append(t)
                if self._consumer_tag is not None:
                    # acks free prefetch window -> push more (RabbitMQ flow)
                    self._push_ready(conn, channel)
            elif cm == CONNECTION_CLOSE:
                # requeue BEFORE Close-Ok, as a real broker has released the
                # session's deliveries once the client sees the close
                # complete; requeueing after it raced the client's return
                self._requeue_unacked()
                self._send_method(conn, 0, CONNECTION_CLOSE_OK)
                return
            else:
                raise AssertionError(f"fake broker: unhandled method {cm}")

    def _basic_get(self, conn, channel, args) -> None:
        rk_queue, off = parse_shortstr(args, 2)
        if not self.queue:
            self._send_method(conn, channel, BASIC_GET_EMPTY, shortstr(""))
            return
        rk, body, headers, redelivered = self.queue.popleft()
        self._tag += 1
        self.unacked[self._tag] = (rk, body, headers, redelivered)
        self._send_method(
            conn, channel, BASIC_GET_OK,
            struct.pack(">Q", self._tag)
            + (b"\x01" if redelivered else b"\x00")
            + shortstr("")  # exchange
            + shortstr(rk)
            + struct.pack(">I", len(self.queue)),
        )
        conn.sendall(
            build_frame(
                FRAME_HEADER,
                channel,
                content_header_payload(60, len(body), headers=headers),
            )
        )
        if body:  # real brokers send ZERO body frames for an empty body
            conn.sendall(build_frame(FRAME_BODY, channel, body))

    def _push_ready(self, conn, channel) -> None:
        """Stream queued messages as ``Deliver`` frames while the prefetch
        window (0 = unlimited) has room — RabbitMQ's consume flow."""
        while self.queue and (
            self._prefetch == 0 or len(self.unacked) < self._prefetch
        ):
            rk, body, headers, redelivered = self.queue.popleft()
            self._tag += 1
            self.unacked[self._tag] = (rk, body, headers, redelivered)
            self._send_method(
                conn, channel, BASIC_DELIVER,
                shortstr(self._consumer_tag)
                + struct.pack(">Q", self._tag)
                + (b"\x01" if redelivered else b"\x00")
                + shortstr("")  # exchange
                + shortstr(rk),
            )
            conn.sendall(
                build_frame(
                    FRAME_HEADER,
                    channel,
                    content_header_payload(60, len(body), headers=headers),
                )
            )
            if body:
                conn.sendall(build_frame(FRAME_BODY, channel, body))

    def _read_method(self, conn) -> tuple[tuple[int, int], int, bytes]:
        ftype, channel, payload = read_frame(conn)
        assert ftype == FRAME_METHOD, f"fake broker: frame type {ftype}"
        return struct.unpack_from(">HH", payload, 0), channel, payload[4:]

    def _expect(self, conn, cm) -> bytes:
        got, _ch, args = self._read_method(conn)
        assert got == cm, f"fake broker: expected {cm}, got {got}"
        return args
