"""AMQP 0-9-1 — ConsumeAMQP / PublishAMQP analogs: frame codec,
client, and a mini-broker for loopback, draining to parquet spool.

NiFi ancestors: nifi-amqp-bundle PublishAMQP.java (FlowFile content →
``basic.publish`` to an exchange + routing key; ``amqp$*`` FlowFile
attributes map onto the message's BasicProperties — AMQPUtils.java:44-58
enumerates the 14 property names, and contentType additionally sets
mime.type) and ConsumeAMQP.java / AMQPConsumer.java:63 (a polled
``basicGet(queue, autoAck=true)`` — one message per trigger, properties
surfaced as ``amqp$*`` attributes). The reference delegates the wire
protocol to the RabbitMQ Java client; here AMQP 0-9-1 itself is
implemented from the public spec:

* frames — octet type / short channel / long size / payload / 0xCE
  frame-end; METHOD (1), HEADER (2), BODY (3), HEARTBEAT (8);
* the connection dance — protocol header ``AMQP\\x00\\x00\\x09\\x01``,
  connection.start/start-ok (PLAIN SASL response ``\\0user\\0pass``),
  tune/tune-ok, open/open-ok, close/close-ok;
* channel.open/close; exchange.declare (direct / fanout / topic);
  queue.declare / queue.bind;
* basic.publish (method + content-header + body frames, bodies split
  at the negotiated frame-max) and basic.get → get-ok / get-empty with
  basic.ack when ``no_ack`` is off;
* content-header property flags and the full BasicProperties list
  (content-type … cluster-id) plus field tables (t/b/I/l/S/T/F/V
  value codes, the RabbitMQ-compatible subset).

Topic-exchange matching uses AMQP semantics: ``.``-separated words,
``*`` exactly one word, ``#`` zero or more words (distinct from MQTT's
``/`` + single-level ``+``). The broker half (`AmqpBroker` +
`amqp_loopback`) exists for the same reason serve_smtp / MqttBroker
do: loopback sessions prove BOTH sides of every exchange without a
network; production points the client at a real broker socket.

Beyond the polled basicGet the reference uses, the push/transactional
surface is implemented too: ``basic.consume`` → ``basic.deliver``
streams (heartbeat-bounded ``drain``), the ``tx`` class
(``tx.select``/``commit``/``rollback`` — publishes stage broker-side
and route only on commit; mutually exclusive with confirm mode per the
spec), and RabbitMQ-style publisher confirms (``confirm.select``, the
broker acks each publish by its 1-based channel sequence number;
``wait_for_confirms`` collects them, expanding ``multiple`` acks).
The negative-ack family is in too: ``basic.reject`` and RabbitMQ's
``basic.nack`` (multiple + requeue bits) requeue at the FRONT of the
queue in original order with the redelivered flag set on the next
delivery, and ``basic.recover`` (requeue=true only, exactly RabbitMQ's
stance) requeues every unacked delivery. No declared boundary remains
in the 0-9-1 surface the RabbitMQ client exposes.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from nifi_spark.spool import Spool

FRAME_METHOD, FRAME_HEADER, FRAME_BODY, FRAME_HEARTBEAT = 1, 2, 3, 8
FRAME_END = 0xCE
PROTOCOL_HEADER = b"AMQP\x00\x00\x09\x01"

# (class, method) ids from the 0-9-1 spec
CONNECTION, CHANNEL, EXCHANGE, QUEUE, BASIC = 10, 20, 40, 50, 60
C_START, C_START_OK, C_TUNE, C_TUNE_OK = 10, 11, 30, 31
C_OPEN, C_OPEN_OK, C_CLOSE, C_CLOSE_OK = 40, 41, 50, 51
CH_OPEN, CH_OPEN_OK, CH_CLOSE, CH_CLOSE_OK = 10, 11, 40, 41
EX_DECLARE, EX_DECLARE_OK = 10, 11
Q_DECLARE, Q_DECLARE_OK, Q_BIND, Q_BIND_OK = 10, 11, 20, 21
B_PUBLISH, B_GET, B_GET_OK, B_GET_EMPTY, B_ACK = 40, 70, 71, 72, 80
B_CONSUME, B_CONSUME_OK, B_DELIVER = 20, 21, 60
B_REJECT, B_NACK = 90, 120
B_RECOVER, B_RECOVER_OK = 110, 111
CONFIRM, CF_SELECT, CF_SELECT_OK = 85, 10, 11
TX, TX_SELECT, TX_SELECT_OK = 90, 10, 11
TX_COMMIT, TX_COMMIT_OK, TX_ROLLBACK, TX_ROLLBACK_OK = 20, 21, 30, 31

# BasicProperties flag bits (content-header property-flags short),
# in spec order — mirrors AMQPUtils.PropertyNames.
_PROPS = (
    ("content_type", 15, "shortstr"),
    ("content_encoding", 14, "shortstr"),
    ("headers", 13, "table"),
    ("delivery_mode", 12, "octet"),
    ("priority", 11, "octet"),
    ("correlation_id", 10, "shortstr"),
    ("reply_to", 9, "shortstr"),
    ("expiration", 8, "shortstr"),
    ("message_id", 7, "shortstr"),
    ("timestamp", 6, "longlong"),
    ("type", 5, "shortstr"),
    ("user_id", 4, "shortstr"),
    ("app_id", 3, "shortstr"),
    ("cluster_id", 2, "shortstr"),
)


class AmqpError(IOError):
    pass


# ------------------------------------------------------------- codec


def _shortstr(s: str) -> bytes:
    b = s.encode()
    if len(b) > 255:
        raise AmqpError("shortstr too long")
    return bytes([len(b)]) + b


def _longstr(b: bytes) -> bytes:
    return struct.pack(">I", len(b)) + b


def encode_table(t: dict) -> bytes:
    out = bytearray()
    for k, v in t.items():
        out += _shortstr(k)
        if isinstance(v, bool):
            out += b"t" + bytes([1 if v else 0])
        elif isinstance(v, int):
            if -(2 ** 31) <= v < 2 ** 31:
                out += b"I" + struct.pack(">i", v)
            else:
                out += b"l" + struct.pack(">q", v)
        elif isinstance(v, dict):
            out += b"F" + encode_table(v)
        elif v is None:
            out += b"V"
        else:
            out += b"S" + _longstr(str(v).encode())
    return _longstr(bytes(out))


def decode_table(buf: bytes, pos: int) -> tuple[dict, int]:
    (size,) = struct.unpack_from(">I", buf, pos)
    pos += 4
    end = pos + size
    t: dict = {}
    while pos < end:
        n = buf[pos]
        key = buf[pos + 1:pos + 1 + n].decode()
        pos += 1 + n
        code = buf[pos:pos + 1]
        pos += 1
        if code == b"t":
            t[key] = bool(buf[pos]); pos += 1
        elif code == b"b":
            t[key] = struct.unpack_from(">b", buf, pos)[0]; pos += 1
        elif code == b"I":
            t[key] = struct.unpack_from(">i", buf, pos)[0]; pos += 4
        elif code in (b"l", b"T"):
            t[key] = struct.unpack_from(">q", buf, pos)[0]; pos += 8
        elif code == b"S":
            (m,) = struct.unpack_from(">I", buf, pos)
            t[key] = buf[pos + 4:pos + 4 + m].decode(); pos += 4 + m
        elif code == b"F":
            t[key], pos = decode_table(buf, pos)
        elif code == b"V":
            t[key] = None
        else:
            raise AmqpError(f"unsupported field type {code!r}")
    return t, end


def _read_exact(read, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = read(n - len(buf))
        if not chunk:
            raise AmqpError(f"stream ended ({len(buf)}/{n})")
        buf += chunk
    return buf


def write_frame(write, ftype: int, channel: int, payload: bytes) -> None:
    write(struct.pack(">BHI", ftype, channel, len(payload)) + payload
          + bytes([FRAME_END]))


def read_frame(read) -> "tuple[int, int, bytes] | None":
    """→ (frame_type, channel, payload) or None at clean EOF."""
    head = read(1)
    if not head:
        return None
    head += _read_exact(read, 6)
    ftype, channel, size = struct.unpack(">BHI", head)
    payload = _read_exact(read, size) if size else b""
    if _read_exact(read, 1)[0] != FRAME_END:
        raise AmqpError("missing frame-end octet")
    return ftype, channel, payload


def method_frame(class_id: int, method_id: int, args: bytes = b"") -> bytes:
    return struct.pack(">HH", class_id, method_id) + args


def encode_properties(props: dict) -> bytes:
    """BasicProperties → property-flags short + packed values."""
    flags = 0
    body = bytearray()
    for name, bit, kind in _PROPS:
        v = props.get(name)
        if v is None:
            continue
        flags |= 1 << bit
        if kind == "shortstr":
            body += _shortstr(str(v))
        elif kind == "octet":
            body += bytes([int(v)])
        elif kind == "longlong":
            body += struct.pack(">Q", int(v))
        else:                                     # table
            body += encode_table(v)
    return struct.pack(">H", flags) + bytes(body)


def decode_properties(buf: bytes, pos: int) -> tuple[dict, int]:
    (flags,) = struct.unpack_from(">H", buf, pos)
    pos += 2
    props: dict = {}
    for name, bit, kind in _PROPS:
        if not flags & (1 << bit):
            continue
        if kind == "shortstr":
            n = buf[pos]
            props[name] = buf[pos + 1:pos + 1 + n].decode()
            pos += 1 + n
        elif kind == "octet":
            props[name] = buf[pos]; pos += 1
        elif kind == "longlong":
            props[name] = struct.unpack_from(">Q", buf, pos)[0]; pos += 8
        else:
            props[name], pos = decode_table(buf, pos)
    return props, pos


def content_header(body_size: int, props: dict) -> bytes:
    return (struct.pack(">HHQ", BASIC, 0, body_size)
            + encode_properties(props))


def topic_matches(pattern: str, routing_key: str) -> bool:
    """AMQP topic-exchange matching: '.'-separated words, '*' = exactly
    one word, '#' = zero or more words (spec 3.1.3.3). Word-list
    recursion (memoized) rather than a regex translation — '#' eats
    its separator dot too, which regex joins get wrong at the edges."""
    p = pattern.split(".")
    k = routing_key.split(".")
    seen: dict[tuple[int, int], bool] = {}

    def m(i: int, j: int) -> bool:
        if (i, j) in seen:
            return seen[i, j]
        if i == len(p):
            r = j == len(k)
        elif p[i] == "#":
            r = m(i + 1, j) or (j < len(k) and m(i, j + 1))
        elif j == len(k):
            r = False
        else:
            r = (p[i] == "*" or p[i] == k[j]) and m(i + 1, j + 1)
        seen[i, j] = r
        return r

    return m(0, 0)


# ------------------------------------------------------------- broker


@dataclass
class AmqpBroker:
    """Single-connection mini-broker: the connection/channel dance,
    exchange.declare (direct/fanout/topic), queue.declare/bind,
    basic.publish routing (default exchange routes straight to the
    queue named by the routing key, like the spec's mandatory default
    binding), and basic.get with per-queue FIFO + ack bookkeeping."""

    exchanges: dict = field(default_factory=dict)       # name → type
    bindings: list = field(default_factory=list)        # (ex, q, key)
    queues: dict = field(default_factory=dict)          # name → [msg]
    unacked: dict = field(default_factory=dict)         # tag → (q, msg)
    redeliver_front: dict = field(default_factory=dict)  # q → n requeued
    consumers: dict = field(default_factory=dict)       # q → (tag, noack)
    frame_max: int = 131072
    published: int = 0

    def pre_queue(self, queue: str,
                  msgs: "list[tuple[dict, bytes, str, str]]") -> None:
        """Seed a queue with (props, body, exchange, routing_key)."""
        self.queues.setdefault(queue, []).extend(msgs)

    def _route(self, exchange: str, key: str, props: dict,
               body: bytes) -> int:
        msg = (props, body, exchange, key)
        if exchange == "":
            if key in self.queues:
                self.queues[key].append(msg)
                return 1
            return 0
        etype = self.exchanges.get(exchange)
        if etype is None:
            raise AmqpError(f"no such exchange {exchange!r}")
        hit = 0
        for ex, q, bkey in self.bindings:
            if ex != exchange:
                continue
            if (etype == "fanout" or (etype == "direct" and bkey == key)
                    or (etype == "topic" and topic_matches(bkey, key))):
                self.queues.setdefault(q, []).append(msg)
                hit += 1
        return hit

    def _settle(self, tags: list, requeue: bool) -> None:
        """Drop or requeue unacked deliveries. Requeues go back to
        the FRONT of their queue in original consumption order and are
        flagged redelivered on their next delivery."""
        for t in sorted(tags, reverse=True):
            qname, msg = self.unacked.pop(t)
            if requeue:
                self.queues.setdefault(qname, []).insert(0, msg)
                self.redeliver_front[qname] = \
                    self.redeliver_front.get(qname, 0) + 1

    def _pop_redeliver(self, qname: str) -> int:
        if self.redeliver_front.get(qname, 0) > 0:
            self.redeliver_front[qname] -= 1
            return 1
        return 0

    def serve(self, read, write) -> int:
        if _read_exact(read, 8) != PROTOCOL_HEADER:
            write(PROTOCOL_HEADER)            # spec: reply with ours
            raise AmqpError("bad protocol header")
        write_frame(write, FRAME_METHOD, 0, method_frame(
            CONNECTION, C_START,
            bytes([0, 9]) + encode_table({"product": "nifi-spark"})
            + _longstr(b"PLAIN") + _longstr(b"en_US")))
        ftype, ch, payload = _expect_method(read, CONNECTION, C_START_OK)
        write_frame(write, FRAME_METHOD, 0, method_frame(
            CONNECTION, C_TUNE,
            struct.pack(">HIH", 2047, self.frame_max, 0)))
        _expect_method(read, CONNECTION, C_TUNE_OK)
        _expect_method(read, CONNECTION, C_OPEN)
        write_frame(write, FRAME_METHOD, 0, method_frame(
            CONNECTION, C_OPEN_OK, _shortstr("")))

        pending: "tuple[str, str, dict, bytearray, int] | None" = None
        delivery_tag = 1
        confirm_mode = False
        publish_seq = 0                  # 1-based confirm numbering
        tx_mode = False
        tx_staged: list = []
        pub_ch = 1

        def finish(p) -> None:
            """Complete one publish: route (or stage under tx), and in
            confirm mode ack it back by publish sequence number."""
            nonlocal publish_seq
            ex, key, props, body, _ = p
            if tx_mode:
                tx_staged.append((ex, key, props, bytes(body)))
            else:
                self._route(ex, key, props, bytes(body))
                self.published += 1
            if confirm_mode:
                publish_seq += 1
                write_frame(write, FRAME_METHOD, pub_ch, method_frame(
                    BASIC, B_ACK, struct.pack(">QB", publish_seq, 0)))

        while True:
            fr = read_frame(read)
            if fr is None:
                return self.published
            ftype, ch, payload = fr
            if ftype == FRAME_HEARTBEAT:
                # deliver to consumers BEFORE echoing: the echoed
                # heartbeat bounds the client's drain (the MQTT
                # PINGREQ/PINGRESP pattern)
                delivery_tag = self._push_deliveries(write, ch,
                                                     delivery_tag)
                write_frame(write, FRAME_HEARTBEAT, 0, b"")
                continue
            if ftype == FRAME_HEADER:
                if pending is None:
                    raise AmqpError("header frame without publish")
                _cls, _w, size = struct.unpack_from(">HHQ", payload, 0)
                props, _ = decode_properties(payload, 12)
                pending = (pending[0], pending[1], props,
                           bytearray(), size)
                if size == 0:
                    finish(pending)
                    pending = None
                continue
            if ftype == FRAME_BODY:
                if pending is None:
                    raise AmqpError("body frame without publish")
                pending[3].extend(payload)
                if len(pending[3]) >= pending[4]:
                    finish(pending)
                    pending = None
                continue
            class_id, method_id = struct.unpack_from(">HH", payload, 0)
            args = payload[4:]
            if (class_id, method_id) == (CHANNEL, CH_OPEN):
                write_frame(write, FRAME_METHOD, ch, method_frame(
                    CHANNEL, CH_OPEN_OK, _longstr(b"")))
            elif (class_id, method_id) == (EXCHANGE, EX_DECLARE):
                pos = 2
                name, pos = _rd_shortstr(args, pos)
                etype, pos = _rd_shortstr(args, pos)
                self.exchanges[name] = etype
                write_frame(write, FRAME_METHOD, ch,
                            method_frame(EXCHANGE, EX_DECLARE_OK))
            elif (class_id, method_id) == (QUEUE, Q_DECLARE):
                pos = 2
                name, pos = _rd_shortstr(args, pos)
                self.queues.setdefault(name, [])
                write_frame(write, FRAME_METHOD, ch, method_frame(
                    QUEUE, Q_DECLARE_OK,
                    _shortstr(name)
                    + struct.pack(">II", len(self.queues[name]), 0)))
            elif (class_id, method_id) == (QUEUE, Q_BIND):
                pos = 2
                qname, pos = _rd_shortstr(args, pos)
                ex, pos = _rd_shortstr(args, pos)
                key, pos = _rd_shortstr(args, pos)
                self.queues.setdefault(qname, [])
                self.bindings.append((ex, qname, key))
                write_frame(write, FRAME_METHOD, ch,
                            method_frame(QUEUE, Q_BIND_OK))
            elif (class_id, method_id) == (BASIC, B_PUBLISH):
                pos = 2
                ex, pos = _rd_shortstr(args, pos)
                key, pos = _rd_shortstr(args, pos)
                pending = (ex, key, {}, bytearray(), -1)
                pub_ch = ch
            elif (class_id, method_id) == (BASIC, B_CONSUME):
                pos = 2
                qname, pos = _rd_shortstr(args, pos)
                ctag, pos = _rd_shortstr(args, pos)
                no_ack = bool(args[pos] & 0x02)    # bits: no-local,no-ack
                if qname not in self.queues:
                    raise AmqpError(f"no such queue {qname!r}")
                if not ctag:
                    ctag = f"ctag-{len(self.consumers) + 1}"
                self.consumers[qname] = (ctag, no_ack)
                write_frame(write, FRAME_METHOD, ch, method_frame(
                    BASIC, B_CONSUME_OK, _shortstr(ctag)))
                delivery_tag = self._push_deliveries(write, ch,
                                                     delivery_tag)
            elif (class_id, method_id) == (BASIC, B_GET):
                pos = 2
                qname, pos = _rd_shortstr(args, pos)
                no_ack = bool(args[pos])
                q = self.queues.get(qname)
                if q is None:
                    raise AmqpError(f"no such queue {qname!r}")
                if not q:
                    write_frame(write, FRAME_METHOD, ch, method_frame(
                        BASIC, B_GET_EMPTY, _shortstr("")))
                    continue
                props, body, ex, key = q.pop(0)
                redeliv = self._pop_redeliver(qname)
                if not no_ack:
                    self.unacked[delivery_tag] = (qname,
                                                  (props, body, ex, key))
                write_frame(write, FRAME_METHOD, ch, method_frame(
                    BASIC, B_GET_OK,
                    struct.pack(">QB", delivery_tag, redeliv)
                    + _shortstr(ex) + _shortstr(key)
                    + struct.pack(">I", len(q))))
                delivery_tag += 1
                write_frame(write, FRAME_HEADER, ch,
                            content_header(len(body), props))
                for i in range(0, len(body), self.frame_max):
                    write_frame(write, FRAME_BODY, ch,
                                body[i:i + self.frame_max])
            elif (class_id, method_id) == (BASIC, B_ACK):
                tag, multiple = struct.unpack_from(">QB", args, 0)
                gone = [t for t in self.unacked
                        if t == tag or (multiple and t <= tag)]
                for t in gone:
                    del self.unacked[t]
            elif (class_id, method_id) == (BASIC, B_REJECT):
                tag, bits = struct.unpack_from(">QB", args, 0)
                self._settle([t for t in self.unacked if t == tag],
                             requeue=bool(bits & 1))
            elif (class_id, method_id) == (BASIC, B_NACK):
                tag, bits = struct.unpack_from(">QB", args, 0)
                multiple, requeue = bits & 0x01, bits & 0x02
                self._settle(
                    [t for t in self.unacked
                     if t == tag or (multiple and t <= tag)],
                    requeue=bool(requeue))
            elif (class_id, method_id) == (BASIC, B_RECOVER):
                if not args[0] & 1:
                    # mirror RabbitMQ: recover with requeue=false is
                    # not implemented anywhere real
                    raise AmqpError(
                        "basic.recover requeue=false not supported")
                self._settle(sorted(self.unacked), requeue=True)
                write_frame(write, FRAME_METHOD, ch,
                            method_frame(BASIC, B_RECOVER_OK))
            elif (class_id, method_id) == (CONFIRM, CF_SELECT):
                if tx_mode:
                    raise AmqpError("channel is transactional")
                confirm_mode = True
                write_frame(write, FRAME_METHOD, ch,
                            method_frame(CONFIRM, CF_SELECT_OK))
            elif (class_id, method_id) == (TX, TX_SELECT):
                if confirm_mode:
                    raise AmqpError("channel is in confirm mode")
                tx_mode = True
                write_frame(write, FRAME_METHOD, ch,
                            method_frame(TX, TX_SELECT_OK))
            elif (class_id, method_id) == (TX, TX_COMMIT):
                if not tx_mode:
                    raise AmqpError("tx.commit without tx.select")
                for ex, key, props, body in tx_staged:
                    self._route(ex, key, props, body)
                    self.published += 1
                tx_staged.clear()
                write_frame(write, FRAME_METHOD, ch,
                            method_frame(TX, TX_COMMIT_OK))
            elif (class_id, method_id) == (TX, TX_ROLLBACK):
                if not tx_mode:
                    raise AmqpError("tx.rollback without tx.select")
                tx_staged.clear()
                write_frame(write, FRAME_METHOD, ch,
                            method_frame(TX, TX_ROLLBACK_OK))
            elif (class_id, method_id) == (CHANNEL, CH_CLOSE):
                write_frame(write, FRAME_METHOD, ch,
                            method_frame(CHANNEL, CH_CLOSE_OK))
            elif (class_id, method_id) == (CONNECTION, C_CLOSE):
                write_frame(write, FRAME_METHOD, 0,
                            method_frame(CONNECTION, C_CLOSE_OK))
                return self.published
            else:
                raise AmqpError(
                    f"unexpected method {class_id}.{method_id}")

    def _push_deliveries(self, write, ch: int, delivery_tag: int) -> int:
        """basic.deliver every queued message of every consumed queue
        (method + header + body frames per message, RFC-order fields:
        consumer-tag, delivery-tag, redelivered, exchange,
        routing-key). Data rides channel 1, the one channel the
        client opens."""
        for qname, (ctag, no_ack) in self.consumers.items():
            q = self.queues.get(qname, [])
            while q:
                props, body, ex, key = q.pop(0)
                redeliv = self._pop_redeliver(qname)
                if not no_ack:
                    self.unacked[delivery_tag] = (qname,
                                                  (props, body, ex, key))
                write_frame(write, FRAME_METHOD, 1, method_frame(
                    BASIC, B_DELIVER,
                    _shortstr(ctag)
                    + struct.pack(">QB", delivery_tag, redeliv)
                    + _shortstr(ex) + _shortstr(key)))
                delivery_tag += 1
                write_frame(write, FRAME_HEADER, 1,
                            content_header(len(body), props))
                for i in range(0, len(body), self.frame_max):
                    write_frame(write, FRAME_BODY, 1,
                                body[i:i + self.frame_max])
        return delivery_tag

def _rd_shortstr(buf: bytes, pos: int) -> tuple[str, int]:
    n = buf[pos]
    return buf[pos + 1:pos + 1 + n].decode(), pos + 1 + n


def _expect_method(read, class_id: int, method_id: int):
    fr = read_frame(read)
    if fr is None:
        raise AmqpError("EOF awaiting method")
    ftype, ch, payload = fr
    got = struct.unpack_from(">HH", payload, 0)
    if ftype != FRAME_METHOD or got != (class_id, method_id):
        raise AmqpError(f"expected {(class_id, method_id)}, got {got}")
    return ftype, ch, payload


# ------------------------------------------------------------- client


class AmqpClient:
    """The RabbitMQ-client-shaped surface the two processors need:
    the connection dance, channel open, exchange/queue declare + bind,
    basic_publish (PublishAMQP) and basic_get (AMQPConsumer.java:63's
    polled ``basicGet``)."""

    def __init__(self, read, write, *, user: str = "guest",
                 password: str = "guest", vhost: str = "/"):
        self.read, self.write = read, write
        write(PROTOCOL_HEADER)
        _expect_method(read, CONNECTION, C_START)
        sasl = f"\0{user}\0{password}".encode()
        write_frame(write, FRAME_METHOD, 0, method_frame(
            CONNECTION, C_START_OK,
            encode_table({"product": "nifi-spark-client"})
            + _shortstr("PLAIN") + _longstr(sasl) + _shortstr("en_US")))
        _, _, payload = _expect_method(read, CONNECTION, C_TUNE)
        _max_ch, self.frame_max, hb = struct.unpack_from(">HIH",
                                                         payload, 4)
        write_frame(write, FRAME_METHOD, 0, method_frame(
            CONNECTION, C_TUNE_OK,
            struct.pack(">HIH", 1, self.frame_max, 0)))
        write_frame(write, FRAME_METHOD, 0, method_frame(
            CONNECTION, C_OPEN, _shortstr(vhost) + _shortstr("")
            + b"\x00"))
        _expect_method(read, CONNECTION, C_OPEN_OK)
        write_frame(write, FRAME_METHOD, 1, method_frame(
            CHANNEL, CH_OPEN, _shortstr("")))
        _expect_method(read, CHANNEL, CH_OPEN_OK)

    def exchange_declare(self, name: str, etype: str = "direct") -> None:
        write_frame(self.write, FRAME_METHOD, 1, method_frame(
            EXCHANGE, EX_DECLARE,
            b"\x00\x00" + _shortstr(name) + _shortstr(etype)
            + b"\x00" + encode_table({})))
        _expect_method(self.read, EXCHANGE, EX_DECLARE_OK)

    def queue_declare(self, name: str) -> int:
        write_frame(self.write, FRAME_METHOD, 1, method_frame(
            QUEUE, Q_DECLARE,
            b"\x00\x00" + _shortstr(name) + b"\x00" + encode_table({})))
        _, _, payload = _expect_method(self.read, QUEUE, Q_DECLARE_OK)
        pos = 4
        _name, pos = _rd_shortstr(payload, pos)
        (count,) = struct.unpack_from(">I", payload, pos)
        return count

    def queue_bind(self, queue: str, exchange: str, key: str) -> None:
        write_frame(self.write, FRAME_METHOD, 1, method_frame(
            QUEUE, Q_BIND,
            b"\x00\x00" + _shortstr(queue) + _shortstr(exchange)
            + _shortstr(key) + b"\x00" + encode_table({})))
        _expect_method(self.read, QUEUE, Q_BIND_OK)

    def basic_publish(self, exchange: str, routing_key: str,
                      body: bytes,
                      properties: dict | None = None) -> "int | None":
        """Publish; in confirm mode returns this publish's 1-based
        sequence number (what the broker's ack will carry)."""
        write_frame(self.write, FRAME_METHOD, 1, method_frame(
            BASIC, B_PUBLISH,
            b"\x00\x00" + _shortstr(exchange) + _shortstr(routing_key)
            + b"\x00"))
        write_frame(self.write, FRAME_HEADER, 1,
                    content_header(len(body), properties or {}))
        step = self.frame_max - 8
        for i in range(0, len(body), step):
            write_frame(self.write, FRAME_BODY, 1, body[i:i + step])
        if getattr(self, "_pub_seq", None) is not None:
            self._pub_seq += 1
            return self._pub_seq
        return None

    def confirm_select(self) -> None:
        """confirm.select → select-ok (publisher confirms): subsequent
        publishes on this channel are numbered 1.. and the broker acks
        each by that sequence; mutually exclusive with tx mode."""
        write_frame(self.write, FRAME_METHOD, 1, method_frame(
            CONFIRM, CF_SELECT, b"\x00"))
        _expect_method(self.read, CONFIRM, CF_SELECT_OK)
        self._pub_seq = 0
        self._confirmed: set[int] = set()

    def wait_for_confirms(self) -> list[int]:
        """Block until every outstanding publish is acked; returns the
        newly-confirmed sequence numbers in arrival order (a
        ``multiple`` ack expands to every unseen tag ≤ its own)."""
        if getattr(self, "_pub_seq", None) is None:
            raise AmqpError("confirm_select first")
        acked: list[int] = []
        while len(self._confirmed) < self._pub_seq:
            fr = read_frame(self.read)
            if fr is None:
                raise AmqpError("EOF awaiting confirm")
            ftype, _ch, payload = fr
            cls, mth = struct.unpack_from(">HH", payload, 0)
            if ftype != FRAME_METHOD or (cls, mth) != (BASIC, B_ACK):
                raise AmqpError(f"unexpected method {cls}.{mth}")
            tag, multiple = struct.unpack_from(">QB", payload, 4)
            new = range(1, tag + 1) if multiple else (tag,)
            for t in new:
                if t not in self._confirmed:
                    self._confirmed.add(t)
                    acked.append(t)
        return acked

    def tx_select(self) -> None:
        """tx.select → select-ok: publishes stage broker-side until
        tx_commit; tx_rollback discards the staging buffer."""
        write_frame(self.write, FRAME_METHOD, 1,
                    method_frame(TX, TX_SELECT))
        _expect_method(self.read, TX, TX_SELECT_OK)

    def tx_commit(self) -> None:
        write_frame(self.write, FRAME_METHOD, 1,
                    method_frame(TX, TX_COMMIT))
        _expect_method(self.read, TX, TX_COMMIT_OK)

    def tx_rollback(self) -> None:
        write_frame(self.write, FRAME_METHOD, 1,
                    method_frame(TX, TX_ROLLBACK))
        _expect_method(self.read, TX, TX_ROLLBACK_OK)

    def basic_get(self, queue: str, *, no_ack: bool = True,
                  auto_ack: bool = True):
        """→ (props, body, exchange, routing_key, message_count) or
        None when the queue is empty — basicGet(queue, autoAck). With
        ``no_ack=False, auto_ack=False`` the delivery stays unacked at
        the broker (last_delivery_tag holds its tag) so the caller can
        basic_ack / basic_reject / basic_nack / basic_recover it."""
        write_frame(self.write, FRAME_METHOD, 1, method_frame(
            BASIC, B_GET,
            b"\x00\x00" + _shortstr(queue)
            + (b"\x01" if no_ack else b"\x00")))
        fr = read_frame(self.read)
        if fr is None:
            raise AmqpError("EOF awaiting get-ok")
        _ftype, _ch, payload = fr
        cls, mth = struct.unpack_from(">HH", payload, 0)
        if (cls, mth) == (BASIC, B_GET_EMPTY):
            return None
        if (cls, mth) != (BASIC, B_GET_OK):
            raise AmqpError(f"unexpected method {cls}.{mth}")
        tag, redelivered = struct.unpack_from(">QB", payload, 4)
        pos = 13
        ex, pos = _rd_shortstr(payload, pos)
        key, pos = _rd_shortstr(payload, pos)
        (remaining,) = struct.unpack_from(">I", payload, pos)
        self.last_delivery_tag, self.last_redelivered = \
            tag, bool(redelivered)
        fr = read_frame(self.read)
        if fr is None or fr[0] != FRAME_HEADER:
            raise AmqpError("expected content header")
        _cls, _w, size = struct.unpack_from(">HHQ", fr[2], 0)
        props, _ = decode_properties(fr[2], 12)
        body = bytearray()
        while len(body) < size:
            fr = read_frame(self.read)
            if fr is None or fr[0] != FRAME_BODY:
                raise AmqpError("expected body frame")
            body.extend(fr[2])
        if not no_ack and auto_ack:
            write_frame(self.write, FRAME_METHOD, 1, method_frame(
                BASIC, B_ACK, struct.pack(">QB", tag, 0)))
        return props, bytes(body), ex, key, remaining

    def basic_ack(self, delivery_tag: int, *,
                  multiple: bool = False) -> None:
        write_frame(self.write, FRAME_METHOD, 1, method_frame(
            BASIC, B_ACK,
            struct.pack(">QB", delivery_tag, 1 if multiple else 0)))

    def basic_reject(self, delivery_tag: int, *,
                     requeue: bool = True) -> None:
        """basic.reject: drop (requeue=False) or requeue one unacked
        delivery; requeues surface redelivered=True next time."""
        write_frame(self.write, FRAME_METHOD, 1, method_frame(
            BASIC, B_REJECT,
            struct.pack(">QB", delivery_tag, 1 if requeue else 0)))

    def basic_nack(self, delivery_tag: int, *, multiple: bool = False,
                   requeue: bool = True) -> None:
        """RabbitMQ basic.nack: reject with a multiple bit."""
        bits = (0x01 if multiple else 0) | (0x02 if requeue else 0)
        write_frame(self.write, FRAME_METHOD, 1, method_frame(
            BASIC, B_NACK, struct.pack(">QB", delivery_tag, bits)))

    def basic_recover(self) -> None:
        """basic.recover (requeue=true) → recover-ok: every unacked
        delivery on the channel goes back to its queue."""
        write_frame(self.write, FRAME_METHOD, 1, method_frame(
            BASIC, B_RECOVER, b"\x01"))
        _expect_method(self.read, BASIC, B_RECOVER_OK)

    def basic_consume(self, queue: str, *, consumer_tag: str = "",
                      no_ack: bool = True) -> str:
        """basic.consume → consume-ok; the broker then pushes
        basic.deliver streams for the queue's messages (the initial
        flush arrives immediately — read it with `drain`)."""
        flags = (0x02 if no_ack else 0)
        write_frame(self.write, FRAME_METHOD, 1, method_frame(
            BASIC, B_CONSUME,
            b"\x00\x00" + _shortstr(queue) + _shortstr(consumer_tag)
            + bytes([flags]) + encode_table({})))
        _, _, payload = _expect_method(self.read, BASIC, B_CONSUME_OK)
        tag, _ = _rd_shortstr(payload, 4)
        return tag

    def drain(self, *, no_ack: bool = True) -> "list[tuple]":
        """Heartbeat-bounded delivery drain (the ConsumeMQTT pattern):
        send a heartbeat, collect basic.deliver streams until the
        broker's heartbeat echo arrives. → [(props, body, exchange,
        routing_key, consumer_tag)]; acks each delivery unless
        no_ack."""
        write_frame(self.write, FRAME_HEARTBEAT, 0, b"")
        out: list[tuple] = []
        while True:
            fr = read_frame(self.read)
            if fr is None:
                raise AmqpError("EOF awaiting heartbeat echo")
            ftype, _ch, payload = fr
            if ftype == FRAME_HEARTBEAT:
                return out
            if ftype != FRAME_METHOD:
                raise AmqpError(f"unexpected frame {ftype}")
            cls, mth = struct.unpack_from(">HH", payload, 0)
            if (cls, mth) != (BASIC, B_DELIVER):
                raise AmqpError(f"unexpected method {cls}.{mth}")
            pos = 4
            ctag, pos = _rd_shortstr(payload, pos)
            tag, _redeliv = struct.unpack_from(">QB", payload, pos)
            pos += 9
            ex, pos = _rd_shortstr(payload, pos)
            key, pos = _rd_shortstr(payload, pos)
            fr = read_frame(self.read)
            if fr is None or fr[0] != FRAME_HEADER:
                raise AmqpError("expected content header")
            _cls, _w, size = struct.unpack_from(">HHQ", fr[2], 0)
            props, _ = decode_properties(fr[2], 12)
            body = bytearray()
            while len(body) < size:
                fr = read_frame(self.read)
                if fr is None or fr[0] != FRAME_BODY:
                    raise AmqpError("expected body frame")
                body.extend(fr[2])
            if not no_ack:
                write_frame(self.write, FRAME_METHOD, 1, method_frame(
                    BASIC, B_ACK, struct.pack(">QB", tag, 0)))
            out.append((props, bytes(body), ex, key, ctag))

    def close(self) -> None:
        write_frame(self.write, FRAME_METHOD, 0, method_frame(
            CONNECTION, C_CLOSE,
            struct.pack(">H", 200) + _shortstr("OK")
            + struct.pack(">HH", 0, 0)))
        _expect_method(self.read, CONNECTION, C_CLOSE_OK)


def amqp_loopback(broker: AmqpBroker):
    """Broker on a socketpair thread → (client_read, client_write,
    join); join() returns the broker's routed-publish count."""
    import socket
    import threading

    a, b = socket.socketpair()
    result: list[int] = []
    errs: list[BaseException] = []

    def run():
        try:
            result.append(broker.serve(b.recv, b.sendall))
        except BaseException as exc:
            errs.append(exc)
        finally:
            b.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()

    def join(timeout: float = 30.0) -> int:
        t.join(timeout)
        a.close()
        if errs:
            raise errs[0]
        if t.is_alive():
            raise TimeoutError("amqp broker did not finish")
        return result[0] if result else 0

    return a.recv, a.sendall, join


# ---------------------------------------------------------- spool


_SPOOL_SCHEMA = ("batch_id bigint, msg_idx bigint, queue string, "
                 "exchange string, routing_key string, "
                 "content_type string, delivery_mode int, "
                 "priority int, correlation_id string, "
                 "message_id string, app_id string, "
                 "headers string, payload binary")


class ConsumeAMQPSource(Spool):
    """Drain-to-spool bridge: basic_get until get-empty → one spool
    file per drain, with the reference's ``amqp$*`` attribute surface
    flattened to columns (AMQPUtils.PropertyNames; contentType doubles
    as mime.type there, here the content_type column)."""

    schema = _SPOOL_SCHEMA

    def __init__(self, spool_dir: str):
        super().__init__(spool_dir)

    def drain(self, client: AmqpClient, queue: str, *,
              no_ack: bool = True, max_messages: int = 1_000_000) -> int:
        import pyarrow as pa

        msgs = []
        while len(msgs) < max_messages:
            got = client.basic_get(queue, no_ack=no_ack)
            if got is None:
                break
            msgs.append(got)

        def prop(name, cast=None):
            vals = [m[0].get(name) for m in msgs]
            return [cast(v) if cast and v is not None else v
                    for v in vals]

        return self.land({
            "queue": pa.array([queue] * len(msgs), pa.string()),
            "exchange": pa.array([m[2] for m in msgs], pa.string()),
            "routing_key": pa.array([m[3] for m in msgs], pa.string()),
            "content_type": pa.array(prop("content_type"), pa.string()),
            "delivery_mode": pa.array(prop("delivery_mode", int),
                                      pa.int32()),
            "priority": pa.array(prop("priority", int), pa.int32()),
            "correlation_id": pa.array(prop("correlation_id"),
                                       pa.string()),
            "message_id": pa.array(prop("message_id"), pa.string()),
            "app_id": pa.array(prop("app_id"), pa.string()),
            "headers": pa.array(
                [",".join(f"{k}={v}" for k, v in
                          sorted(m[0]["headers"].items()))
                 if m[0].get("headers") else None for m in msgs],
                pa.string()),
            "payload": pa.array([m[1] for m in msgs], pa.binary()),
        })


def publish_amqp(rows, client: AmqpClient, *, exchange: str,
                 routing_key_col: str = "routing_key",
                 payload_col: str = "payload",
                 props_cols: "dict[str, str] | None" = None) -> int:
    """PublishAMQP analog over an iterable of dict-like rows (driver
    side, like put_email): each row becomes one basic.publish; columns
    named in props_cols map onto BasicProperties — the `amqp$*`
    attribute mapping of PublishAMQP.java's updateBasicProperties."""
    n = 0
    for row in rows:
        d = row.asDict() if hasattr(row, "asDict") else dict(row)
        props = {p: d[c] for p, c in (props_cols or {}).items()
                 if d.get(c) is not None}
        body = d[payload_col]
        if isinstance(body, str):
            body = body.encode()
        client.basic_publish(exchange, d[routing_key_col], body, props)
        n += 1
    return n
