"""GetAzureEventHub analog — AMQP 1.0 (OASIS spec), the protocol the
Event Hubs client actually speaks, implemented from the public
standard: the type system (fixed/variable/compound encodings +
described types), the SASL security layer (PLAIN), the connection/
session/link state machines (open → begin → attach), credit-based
flow control with REAL drain semantics (a flow with drain=true makes
the sender burn remaining credit by advancing delivery-count — the
batch boundary the Event Hubs receiver relies on), transfer frames
carrying encoded messages, and disposition settlement (accepted).

NiFi ancestor: nifi-azure-bundle GetAzureEventHub.java — per-partition
PartitionReceiver.receive(batchSize) loops writing one FlowFile per
EventData with attributes eventhub.enqueued.timestamp / offset /
sequence / name / partition (GetAzureEventHub.java:63-67). Event Hubs
delivers those three values as AMQP message-annotations
(``x-opt-offset``, ``x-opt-sequence-number``,
``x-opt-enqueued-time``), which is exactly where the in-process hub
puts them here.

The broker models an Event Hub: N partitions, each an append-only
event list; a receiver link attaches to
``<hub>/ConsumerGroups/<group>/Partitions/<id>`` with an optional
``amqp.annotation.x-opt-offset > '<n>'`` selector filter (the Event
Hubs resume position), then pages through it with flow credit.

Multi-frame transfers (§2.6.14, more=true) are real on BOTH halves:
senders split a delivery whose payload exceeds the effective frame
limit (the peer's negotiated open.max-frame-size, or the injectable
``max_frame_payload`` for deterministic tests) into consecutive
transfer frames sharing one delivery-id, and receivers reassemble
per-handle until the final more=false frame.

The $cbs claims dance (put-token request/reply over a management-node
link pair, 202/401 status, correlation-id matching; hub attaches
without a claim detach with amqp:unauthorized-access) and §4.4
transactions (coordinator link, declare → txn-id, transactional-state
transfers staged invisibly, discharge commit/rollback) are both
implemented — no declared AMQP 1.0 boundary remains.

Transport = injectable ``read(n)``/``write(b)`` callables; tests loop
back on a socketpair; production wraps a TLS socket.
"""

from __future__ import annotations

import re
import struct

from nifi_spark.spool import Spool


class Amqp10Error(IOError):
    pass


# -------------------------------------------------------- type system


class Symbol(str):
    """AMQP symbol (0xA3/0xB3) — distinct from string on the wire."""


class UInt(int):
    pass


class ULong(int):
    pass


class Described:
    __slots__ = ("descriptor", "value")

    def __init__(self, descriptor, value):
        self.descriptor = descriptor
        self.value = value

    def __eq__(self, other):
        return (isinstance(other, Described)
                and self.descriptor == other.descriptor
                and self.value == other.value)

    def __repr__(self):
        return f"Described(0x{int(self.descriptor):02x}, {self.value!r})"


def encode_value(v) -> bytes:
    if v is None:
        return b"\x40"
    if isinstance(v, Described):
        return b"\x00" + encode_value(v.descriptor) + encode_value(
            v.value)
    if isinstance(v, bool):
        return b"\x41" if v else b"\x42"
    if isinstance(v, Symbol):
        b = v.encode()
        if len(b) < 256:
            return b"\xa3" + bytes([len(b)]) + b
        return b"\xb3" + struct.pack(">I", len(b)) + b
    if isinstance(v, UInt):
        if v == 0:
            return b"\x43"
        if v < 256:
            return b"\x52" + bytes([v])
        return b"\x70" + struct.pack(">I", v)
    if isinstance(v, ULong):
        if v == 0:
            return b"\x44"
        if v < 256:
            return b"\x53" + bytes([v])
        return b"\x80" + struct.pack(">Q", v)
    if isinstance(v, int):
        if -128 <= v < 128:
            return b"\x55" + struct.pack(">b", v)
        if -(2 ** 31) <= v < 2 ** 31:
            return b"\x71" + struct.pack(">i", v)
        return b"\x81" + struct.pack(">q", v)
    if isinstance(v, float):
        return b"\x82" + struct.pack(">d", v)
    if isinstance(v, str):
        b = v.encode()
        if len(b) < 256:
            return b"\xa1" + bytes([len(b)]) + b
        return b"\xb1" + struct.pack(">I", len(b)) + b
    if isinstance(v, (bytes, bytearray)):
        if len(v) < 256:
            return b"\xa0" + bytes([len(v)]) + bytes(v)
        return b"\xb0" + struct.pack(">I", len(v)) + bytes(v)
    if isinstance(v, (list, tuple)):
        if not v:
            return b"\x45"
        body = b"".join(encode_value(x) for x in v)
        if len(body) + 1 < 256 and len(v) < 256:
            return (b"\xc0" + bytes([len(body) + 1, len(v)]) + body)
        return (b"\xd0" + struct.pack(">II", len(body) + 4, len(v))
                + body)
    if isinstance(v, dict):
        body = b"".join(encode_value(k) + encode_value(x)
                        for k, x in v.items())
        n = 2 * len(v)
        if len(body) + 1 < 256 and n < 256:
            return b"\xc1" + bytes([len(body) + 1, n]) + body
        return b"\xd1" + struct.pack(">II", len(body) + 4, n) + body
    raise Amqp10Error(f"unencodable {type(v).__name__}")


def decode_value(buf: bytes, pos: int = 0):
    """Returns (value, next_pos)."""
    code = buf[pos]
    pos += 1
    if code == 0x00:                              # described
        desc, pos = decode_value(buf, pos)
        val, pos = decode_value(buf, pos)
        return Described(desc, val), pos
    if code == 0x40:
        return None, pos
    if code == 0x41:
        return True, pos
    if code == 0x42:
        return False, pos
    if code == 0x56:
        return buf[pos] == 1, pos + 1
    if code == 0x43:
        return UInt(0), pos
    if code == 0x52:
        return UInt(buf[pos]), pos + 1
    if code == 0x70:
        return UInt(struct.unpack_from(">I", buf, pos)[0]), pos + 4
    if code == 0x44:
        return ULong(0), pos
    if code == 0x53:
        return ULong(buf[pos]), pos + 1
    if code == 0x80:
        return ULong(struct.unpack_from(">Q", buf, pos)[0]), pos + 8
    if code == 0x55:
        return struct.unpack_from(">b", buf, pos)[0], pos + 1
    if code == 0x54:
        return struct.unpack_from(">b", buf, pos)[0], pos + 1
    if code == 0x71:
        return struct.unpack_from(">i", buf, pos)[0], pos + 4
    if code == 0x81:
        return struct.unpack_from(">q", buf, pos)[0], pos + 8
    if code == 0x83:                              # timestamp (ms)
        return struct.unpack_from(">q", buf, pos)[0], pos + 8
    if code == 0x82:
        return struct.unpack_from(">d", buf, pos)[0], pos + 8
    if code in (0xA0, 0xA1, 0xA3):
        n = buf[pos]
        raw = buf[pos + 1:pos + 1 + n]
        pos += 1 + n
    elif code in (0xB0, 0xB1, 0xB3):
        (n,) = struct.unpack_from(">I", buf, pos)
        raw = buf[pos + 4:pos + 4 + n]
        pos += 4 + n
    elif code == 0x45:
        return [], pos
    elif code in (0xC0, 0xC1):
        size = buf[pos]
        count = buf[pos + 1]
        return _decode_compound(code, buf, pos + 2, count, pos + 1 + size)
    elif code in (0xD0, 0xD1):
        size, count = struct.unpack_from(">II", buf, pos)
        return _decode_compound(code, buf, pos + 8, count,
                                pos + 4 + size)
    else:
        raise Amqp10Error(f"unsupported type code 0x{code:02x}")
    if code in (0xA0, 0xB0):
        return bytes(raw), pos
    if code in (0xA3, 0xB3):
        return Symbol(raw.decode()), pos
    return raw.decode(), pos


def _decode_compound(code: int, buf: bytes, pos: int, count: int,
                     end: int):
    items = []
    for _ in range(count):
        v, pos = decode_value(buf, pos)
        items.append(v)
    if pos != end:
        raise Amqp10Error("compound size/count mismatch")
    if code in (0xC1, 0xD1):
        return dict(zip(items[::2], items[1::2])), end
    return items, end


# ------------------------------------------------------------- frames

AMQP_HDR = b"AMQP\x00\x01\x00\x00"
SASL_HDR = b"AMQP\x03\x01\x00\x00"

P_OPEN, P_BEGIN, P_ATTACH, P_FLOW, P_TRANSFER = 0x10, 0x11, 0x12, 0x13, 0x14
P_DISPOSITION, P_DETACH, P_END, P_CLOSE = 0x15, 0x16, 0x17, 0x18
D_SOURCE, D_TARGET, D_ACCEPTED = 0x28, 0x29, 0x24
S_MECHANISMS, S_INIT, S_OUTCOME = 0x40, 0x41, 0x44
M_ANNOTATIONS, M_PROPERTIES, M_APP_PROPERTIES, M_DATA = \
    0x72, 0x73, 0x74, 0x75
M_VALUE = 0x77
D_ERROR = 0x1D
# transactions (OASIS AMQP 1.0 §4.5)
TXN_COORDINATOR, TXN_DECLARE, TXN_DISCHARGE = 0x30, 0x31, 0x32
TXN_DECLARED, TXN_STATE = 0x33, 0x34
CBS_NODE = "$cbs"


def write_frame(write, channel: int, performative: Described,
                payload: bytes = b"", *, frame_type: int = 0) -> None:
    body = encode_value(performative) + payload
    write(struct.pack(">IBBH", len(body) + 8, 2, frame_type, channel)
          + body)


def read_frame(read) -> "tuple[int, Described | None, bytes] | None":
    """Returns (channel, performative, payload) or None on EOF.
    An empty frame (heartbeat) yields performative None."""
    hdr = _read_exact(read, 8, eof_ok=True)
    if hdr is None:
        return None
    size, doff, _ftype, channel = struct.unpack(">IBBH", hdr)
    body = _read_exact(read, size - 8)
    body = body[(doff - 2) * 4:]
    if not body:
        return channel, None, b""
    perf, pos = decode_value(body, 0)
    return channel, perf, body[pos:]


def _read_exact(read, n: int, *, eof_ok: bool = False):
    buf = b""
    while len(buf) < n:
        chunk = read(n - len(buf))
        if not chunk:
            if eof_ok and not buf:
                return None
            raise Amqp10Error("connection closed mid-frame")
        buf += chunk
    return buf


def _lget(lst: list, i: int, default=None):
    return lst[i] if i < len(lst) else default


def encode_message(body: bytes, *, annotations: dict | None = None,
                   app_properties: dict | None = None,
                   properties: "list | None" = None,
                   value_body=None) -> bytes:
    """Bare message: optional message-annotations, properties (the
    §3.2.4 13-field list — message-id(0), reply-to(4),
    correlation-id(5) are the ones the CBS dance uses),
    application-properties, and either a data or an amqp-value body
    (`value_body` wins when given — CBS tokens and txn declare/
    discharge ride amqp-value)."""
    out = b""
    if annotations:
        out += encode_value(Described(
            ULong(M_ANNOTATIONS),
            {Symbol(k): v for k, v in annotations.items()}))
    if properties:
        out += encode_value(Described(ULong(M_PROPERTIES),
                                      list(properties)))
    if app_properties:
        out += encode_value(Described(ULong(M_APP_PROPERTIES),
                                      dict(app_properties)))
    if value_body is not None:
        out += encode_value(Described(ULong(M_VALUE), value_body))
    else:
        out += encode_value(Described(ULong(M_DATA), bytes(body)))
    return out


def decode_message(payload: bytes) -> dict:
    pos, out = 0, {"annotations": {}, "app_properties": {},
                   "properties": [], "value": None, "body": b""}
    while pos < len(payload):
        section, pos = decode_value(payload, pos)
        if not isinstance(section, Described):
            raise Amqp10Error("message section is not described")
        d = int(section.descriptor)
        if d == M_ANNOTATIONS:
            out["annotations"] = {str(k): v
                                  for k, v in section.value.items()}
        elif d == M_PROPERTIES:
            out["properties"] = list(section.value)
        elif d == M_APP_PROPERTIES:
            out["app_properties"] = {str(k): v
                                     for k, v in section.value.items()}
        elif d == M_VALUE:
            out["value"] = section.value
        elif d == M_DATA:
            out["body"] += section.value
        # header sections are tolerated and skipped
    return out


# -------------------------------------------------------------- broker

_ADDR_RE = re.compile(
    r"^(?P<hub>[^/]+)/ConsumerGroups/(?P<group>[^/]+)/Partitions/"
    r"(?P<pid>\d+)$")
_FILTER_RE = re.compile(r"amqp\.annotation\.x-opt-offset\s*>\s*"
                        r"'(?P<off>-?\d+)'")
# send targets: bare hub (service picks the partition, round-robin
# here) or an explicit partition path
_SEND_ADDR_RE = re.compile(
    r"^(?P<hub>[^/]+)(?:/Partitions/(?P<pid>\d+))?$")


class EventHubBroker:
    """In-process Event-Hub-shaped AMQP 1.0 node: N partitions of
    (offset, sequence, enqueued_ms, body, app_properties)."""

    def __init__(self, hub: str = "hub1", n_partitions: int = 4, *,
                 users: dict[str, str] | None = None,
                 clock_epoch_ms: int = 1_700_000_000_000,
                 max_frame_payload: "int | None" = None,
                 sas_tokens: "dict[str, str] | None" = None):
        self.hub = hub
        #: audience -> expected SAS token. When set, every hub link
        #: attach requires a prior $cbs put-token claim for
        #: ``sb://<hub>`` (the Event Hubs CBS gate); None = CBS off.
        self.sas_tokens = sas_tokens
        #: per-frame payload cap for OUTGOING transfers; None = honor
        #: only the peer's open.max-frame-size (minus frame overhead)
        self.max_frame_payload = max_frame_payload
        self.partitions: list[list[tuple]] = [[] for _ in
                                              range(n_partitions)]
        self.users = users or {}
        self.transfers_sent = 0
        self.transfers_received = 0
        # deterministic enqueue clock for wire-side appends (ticks one
        # ms per event; production would stamp wall time)
        self._clock = clock_epoch_ms
        self._rr = 0                      # round-robin send partition

    def append(self, partition: int, body: bytes,
               app_properties: dict | None = None, *,
               enqueued_ms: int) -> int:
        part = self.partitions[partition]
        seq = len(part)
        offset = 64 * seq                 # monotone, sparse like EH
        part.append((offset, seq, enqueued_ms, bytes(body),
                     dict(app_properties or {})))
        return offset

    # -- connection ------------------------------------------------
    def _sasl(self, read, write) -> None:
        hdr = _read_exact(read, 8)
        if hdr != SASL_HDR:
            raise Amqp10Error(f"expected SASL header, got {hdr!r}")
        write(SASL_HDR)
        write_frame(write, 0, Described(ULong(S_MECHANISMS),
                                        [Symbol("PLAIN")]),
                    frame_type=1)
        ch, perf, _ = read_frame(read)
        if int(perf.descriptor) != S_INIT:
            raise Amqp10Error("expected sasl.init")
        mech, resp = perf.value[0], perf.value[1]
        ok = False
        if str(mech) == "PLAIN" and isinstance(resp, bytes):
            parts = resp.split(b"\x00")
            if len(parts) == 3:
                user, pw = parts[1].decode(), parts[2].decode()
                ok = self.users.get(user) == pw
        write_frame(write, 0, Described(
            ULong(S_OUTCOME), [UInt(0 if ok else 1), None]),
            frame_type=1)
        if not ok:
            raise Amqp10Error("sasl authentication failed")

    def serve(self, read, write) -> int:
        """One connection: SASL PLAIN, then the AMQP layer until
        close. Returns transfers sent."""
        self._sasl(read, write)
        hdr = _read_exact(read, 8)
        if hdr != AMQP_HDR:
            raise Amqp10Error(f"expected AMQP header, got {hdr!r}")
        write(AMQP_HDR)
        links: dict[int, dict] = {}       # handle -> link state
        rx_partial: dict[int, dict] = {}  # handle -> in-flight delivery
        sent0 = self.transfers_sent
        next_out_id = 0
        peer_max_frame = 2 ** 20
        # per-connection security + transaction state
        claims: set[str] = set()          # audiences proven via $cbs
        cbs_out: "int | None" = None      # client's $cbs reply link
        cbs_seq = 0
        txns: dict[bytes, list] = {}      # txn-id -> staged appends
        next_txn = 1

        def frame_limit() -> int:
            lim = max(peer_max_frame - 512, 64)
            if self.max_frame_payload is not None:
                lim = min(lim, self.max_frame_payload)
            return lim
        while True:
            frame = read_frame(read)
            if frame is None:
                return self.transfers_sent - sent0
            channel, perf, _payload = frame
            if perf is None:
                continue
            d = int(perf.descriptor)
            f = perf.value
            if d == P_OPEN:
                if _lget(f, 2) is not None:
                    peer_max_frame = int(f[2])
                write_frame(write, 0, Described(
                    ULong(P_OPEN), [self.hub, None, UInt(2 ** 20),
                                    UInt(255), UInt(60000)]))
            elif d == P_BEGIN:
                write_frame(write, channel, Described(
                    ULong(P_BEGIN), [channel, UInt(0), UInt(5000),
                                     UInt(5000)]))
            elif d == P_ATTACH:
                name, handle, role = f[0], int(f[1]), f[2]
                target = _lget(f, 6)
                # -- transaction coordinator (§4.4.1): the TARGET is
                # the coordinator described type, not an address
                if role is False and isinstance(target, Described) \
                        and int(target.descriptor) == TXN_COORDINATOR:
                    links[handle] = {"coord": True}
                    write_frame(write, channel, Described(
                        ULong(P_ATTACH),
                        [name, UInt(handle), True, None, None,
                         Described(ULong(D_SOURCE), [None]), target]))
                    write_frame(write, channel, Described(
                        ULong(P_FLOW),
                        [UInt(0), UInt(5000), UInt(next_out_id),
                         UInt(5000), UInt(handle), UInt(0),
                         UInt(1000)]))
                    continue
                # -- $cbs management node (claims-based security)
                node = None
                if role is False and isinstance(target, Described):
                    node = str(target.value[0])
                elif role is True and isinstance(_lget(f, 5),
                                                 Described):
                    node = str(f[5].value[0])
                if node == CBS_NODE:
                    if role is False:     # client sends requests here
                        links[handle] = {"cbs_in": True}
                        write_frame(write, channel, Described(
                            ULong(P_ATTACH),
                            [name, UInt(handle), True, None, None,
                             Described(ULong(D_SOURCE), [CBS_NODE]),
                             target]))
                        write_frame(write, channel, Described(
                            ULong(P_FLOW),
                            [UInt(0), UInt(5000), UInt(next_out_id),
                             UInt(5000), UInt(handle), UInt(0),
                             UInt(1000)]))
                    else:                 # client receives replies here
                        cbs_out = handle
                        write_frame(write, channel, Described(
                            ULong(P_ATTACH),
                            [name, UInt(handle), False, None, None,
                             f[5],
                             Described(ULong(D_TARGET), [CBS_NODE])]))
                    continue

                def _authorized() -> bool:
                    return (self.sas_tokens is None
                            or f"sb://{self.hub}" in claims)

                if role is False:         # peer is a SENDER (PutEventHub)
                    addr = str(target.value[0])
                    sm = _SEND_ADDR_RE.match(addr)
                    if not sm or sm.group("hub") != self.hub:
                        raise Amqp10Error(f"unknown target {addr!r}")
                    if not _authorized():
                        write_frame(write, channel, Described(
                            ULong(P_DETACH),
                            [UInt(handle), True, Described(
                                ULong(D_ERROR),
                                [Symbol("amqp:unauthorized-access"),
                                 f"no claim for sb://{self.hub}"])]))
                        continue
                    pid = (int(sm.group("pid"))
                           if sm.group("pid") is not None else None)
                    links[handle] = {"in": True, "pid": pid}
                    write_frame(write, channel, Described(
                        ULong(P_ATTACH),
                        [name, UInt(handle), True, None, None,
                         Described(ULong(D_SOURCE), [addr]), target]))
                    # grant send credit immediately
                    write_frame(write, channel, Described(
                        ULong(P_FLOW),
                        [UInt(0), UInt(5000), UInt(next_out_id),
                         UInt(5000), UInt(handle), UInt(0),
                         UInt(1000)]))
                    continue
                source = f[5]
                addr = str(source.value[0])
                m = _ADDR_RE.match(addr)
                if not m or m.group("hub") != self.hub:
                    raise Amqp10Error(f"unknown address {addr!r}")
                if not _authorized():
                    write_frame(write, channel, Described(
                        ULong(P_DETACH),
                        [UInt(handle), True, Described(
                            ULong(D_ERROR),
                            [Symbol("amqp:unauthorized-access"),
                             f"no claim for sb://{self.hub}"])]))
                    continue
                cursor = 0
                fmap = _lget(source.value, 5) or {}
                for fdesc in fmap.values():
                    fm = _FILTER_RE.search(str(
                        fdesc.value if isinstance(fdesc, Described)
                        else fdesc))
                    if fm:
                        floor = int(fm.group("off"))
                        part = self.partitions[int(m.group("pid"))]
                        cursor = sum(1 for e in part if e[0] <= floor)
                links[handle] = {"pid": int(m.group("pid")),
                                 "cursor": cursor,
                                 "delivery_count": 0}
                write_frame(write, channel, Described(
                    ULong(P_ATTACH),
                    [name, UInt(handle), False, None, None, source,
                     Described(ULong(D_TARGET), [addr])]))
            elif d == P_FLOW:
                handle = f[4]
                if handle is None:
                    continue
                link = links[int(handle)]
                # flow fields: ...handle(4), delivery-count(5),
                # link-credit(6), available(7), drain(8)
                credit = int(f[6] or 0)
                drain = bool(_lget(f, 8, False))
                part = self.partitions[link["pid"]]
                n_send = min(credit, len(part) - link["cursor"])
                for _ in range(n_send):
                    off, seq, ts, body, props = part[link["cursor"]]
                    msg = encode_message(
                        body,
                        annotations={"x-opt-offset": str(off),
                                     "x-opt-sequence-number": seq,
                                     "x-opt-enqueued-time": ts},
                        app_properties=props)
                    # §2.6.14: one delivery may span several transfer
                    # frames — every frame shares the delivery-id, all
                    # but the last set more=true
                    lim = frame_limit()
                    chunks = ([msg[i:i + lim]
                               for i in range(0, len(msg), lim)]
                              or [b""])
                    for ci, chunk in enumerate(chunks):
                        write_frame(write, channel, Described(
                            ULong(P_TRANSFER),
                            [UInt(int(handle)), UInt(next_out_id),
                             struct.pack(">I", next_out_id), UInt(0),
                             False, ci < len(chunks) - 1]), chunk)
                    next_out_id += 1
                    link["cursor"] += 1
                    link["delivery_count"] += 1
                    self.transfers_sent += 1
                if drain:
                    # burn remaining credit: advance delivery-count so
                    # the receiver knows the batch is complete (§2.6.7)
                    link["delivery_count"] += credit - n_send
                    write_frame(write, channel, Described(
                        ULong(P_FLOW),
                        [UInt(0), UInt(5000), UInt(next_out_id),
                         UInt(5000), UInt(int(handle)),
                         UInt(link["delivery_count"]), UInt(0),
                         None, True]))
            elif d == P_TRANSFER:
                handle = int(f[0])
                link = links.get(handle)
                if not link or not (link.get("in") or link.get("coord")
                                    or link.get("cbs_in")):
                    raise Amqp10Error("transfer on a non-sender link")
                part_rx = rx_partial.pop(handle, None)
                if part_rx is not None:
                    # continuation: delivery-id, if present, must match
                    if _lget(f, 1) is not None \
                            and int(f[1]) != part_rx["did"]:
                        raise Amqp10Error("delivery-id changed "
                                          "mid-delivery")
                    did, settled = part_rx["did"], part_rx["settled"]
                    state = part_rx["state"]
                    buf = part_rx["buf"] + _payload
                else:
                    did = int(f[1])
                    settled = bool(_lget(f, 4, False))
                    state = _lget(f, 7)   # §2.7.5 field 7: delivery state
                    buf = _payload
                if bool(_lget(f, 5, False)):          # more=true
                    rx_partial[handle] = {"did": did, "settled": settled,
                                          "state": state, "buf": buf}
                    continue
                msg = decode_message(buf)
                if link.get("cbs_in"):
                    # -- CBS put-token (the Event Hubs claims dance):
                    # request app-properties carry operation/type/name,
                    # the amqp-value body is the token; the reply goes
                    # back on the client's $cbs receiver link with
                    # correlation-id = request message-id
                    props = msg["app_properties"]
                    audience = str(props.get("name", ""))
                    ok = (str(props.get("operation")) == "put-token"
                          and self.sas_tokens is not None
                          and self.sas_tokens.get(audience)
                          == msg["value"])
                    if ok:
                        claims.add(audience)
                    if not settled:
                        write_frame(write, channel, Described(
                            ULong(P_DISPOSITION),
                            [True, UInt(did), UInt(did), True,
                             Described(ULong(D_ACCEPTED), [])]))
                    if cbs_out is None:
                        raise Amqp10Error("no $cbs reply link attached")
                    req_id = _lget(msg["properties"], 0)
                    reply = encode_message(
                        b"",
                        properties=[UInt(cbs_seq), None, None, None,
                                    None, req_id],
                        app_properties={
                            "status-code": 202 if ok else 401,
                            "status-description":
                                "Accepted" if ok else "Unauthorized"},
                        value_body="")
                    cbs_seq += 1
                    write_frame(write, channel, Described(
                        ULong(P_TRANSFER),
                        [UInt(cbs_out), UInt(next_out_id),
                         struct.pack(">I", next_out_id), UInt(0),
                         True, False]), reply)
                    next_out_id += 1
                    continue
                if link.get("coord"):
                    # -- §4.4.2/4.4.3 declare / discharge
                    body = msg["value"]
                    if not isinstance(body, Described):
                        raise Amqp10Error("coordinator body must be "
                                          "declare or discharge")
                    td = int(body.descriptor)
                    if td == TXN_DECLARE:
                        txn_id = struct.pack(">Q", next_txn)
                        next_txn += 1
                        txns[txn_id] = []
                        write_frame(write, channel, Described(
                            ULong(P_DISPOSITION),
                            [True, UInt(did), UInt(did), True,
                             Described(ULong(TXN_DECLARED),
                                       [txn_id])]))
                    elif td == TXN_DISCHARGE:
                        txn_id = bytes(body.value[0])
                        fail = bool(_lget(body.value, 1, False))
                        staged = txns.pop(txn_id, None)
                        if staged is None:
                            raise Amqp10Error("unknown txn-id")
                        if not fail:      # commit: apply staged work
                            for pid, mbody, mprops in staged:
                                self._clock += 1
                                self.append(pid, mbody, mprops,
                                            enqueued_ms=self._clock)
                                self.transfers_received += 1
                        write_frame(write, channel, Described(
                            ULong(P_DISPOSITION),
                            [True, UInt(did), UInt(did), True,
                             Described(ULong(D_ACCEPTED), [])]))
                    else:
                        raise Amqp10Error(
                            f"unexpected coordinator body 0x{td:02x}")
                    continue
                pid = link["pid"]
                if pid is None:
                    pid = self._rr % len(self.partitions)
                    self._rr += 1
                if isinstance(state, Described) \
                        and int(state.descriptor) == TXN_STATE:
                    # transactional transfer (§4.4.4): stage under the
                    # txn; visible only after a successful discharge
                    txn_id = bytes(state.value[0])
                    if txn_id not in txns:
                        raise Amqp10Error("transfer under unknown txn")
                    txns[txn_id].append(
                        (pid, msg["body"], msg["app_properties"]))
                    if not settled:
                        write_frame(write, channel, Described(
                            ULong(P_DISPOSITION),
                            [True, UInt(did), UInt(did), True,
                             Described(ULong(TXN_STATE),
                                       [txn_id,
                                        Described(ULong(D_ACCEPTED),
                                                  [])])]))
                    continue
                self._clock += 1
                self.append(pid, msg["body"], msg["app_properties"],
                            enqueued_ms=self._clock)
                self.transfers_received += 1
                if not settled:
                    write_frame(write, channel, Described(
                        ULong(P_DISPOSITION),
                        [True, UInt(did), UInt(did), True,
                         Described(ULong(D_ACCEPTED), [])]))
            elif d == P_DISPOSITION:
                pass                      # settled; nothing to resend
            elif d == P_DETACH:
                links.pop(int(f[0]), None)
                write_frame(write, channel, Described(
                    ULong(P_DETACH), [f[0], True]))
            elif d == P_END:
                write_frame(write, channel, Described(ULong(P_END), []))
            elif d == P_CLOSE:
                write_frame(write, 0, Described(ULong(P_CLOSE), []))
                return self.transfers_sent - sent0
            else:
                raise Amqp10Error(f"unexpected performative 0x{d:02x}")


# -------------------------------------------------------------- client


class EventHubReceiver:
    """PartitionReceiver analog: SASL PLAIN + open/begin, one
    receiver link per partition, receive(batch) via flow credit with
    drain=true as the deterministic batch boundary."""

    def __init__(self, read, write, *, hub: str, user: str,
                 password: str, consumer_group: str = "$Default",
                 max_frame_payload: "int | None" = None):
        self._read, self._write = read, write
        self.hub = hub
        #: per-frame payload cap for outgoing sends (multi-frame
        #: transfers when a message exceeds it); None = single frame
        self.max_frame_payload = max_frame_payload
        self.consumer_group = consumer_group
        self._next_handle = 0
        self._links: dict[int, int] = {}      # pid -> receiver handle
        self._send_links: dict = {}           # pid|None -> sender handle
        self._txn_handle: "int | None" = None  # coordinator link
        self._delivery = 0
        # SASL layer
        self._write(SASL_HDR)
        hdr = _read_exact(read, 8)
        if hdr != SASL_HDR:
            raise Amqp10Error("server did not speak SASL")
        _ch, mechs, _ = read_frame(read)
        if int(mechs.descriptor) != S_MECHANISMS:
            raise Amqp10Error("expected sasl.mechanisms")
        write_frame(write, 0, Described(
            ULong(S_INIT),
            [Symbol("PLAIN"),
             b"\x00" + user.encode() + b"\x00" + password.encode(),
             None]), frame_type=1)
        _ch, outcome, _ = read_frame(read)
        if int(outcome.descriptor) != S_OUTCOME or \
                int(outcome.value[0]) != 0:
            raise Amqp10Error("SASL authentication rejected")
        # AMQP layer
        self._write(AMQP_HDR)
        if _read_exact(read, 8) != AMQP_HDR:
            raise Amqp10Error("bad AMQP header")
        write_frame(write, 0, Described(
            ULong(P_OPEN), ["nifi-spark-receiver", hub]))
        self._expect(P_OPEN)
        write_frame(write, 0, Described(
            ULong(P_BEGIN), [None, UInt(0), UInt(5000), UInt(5000)]))
        self._expect(P_BEGIN)

    def _expect(self, descriptor: int):
        while True:
            frame = read_frame(self._read)
            if frame is None:
                raise Amqp10Error("connection closed")
            _ch, perf, payload = frame
            if perf is None:
                continue
            if int(perf.descriptor) == descriptor:
                return perf, payload
            raise Amqp10Error(
                f"expected 0x{descriptor:02x}, "
                f"got 0x{int(perf.descriptor):02x}")

    def _attach(self, partition: int, *,
                offset: "int | None" = None) -> int:
        handle = self._next_handle
        self._next_handle += 1
        addr = (f"{self.hub}/ConsumerGroups/{self.consumer_group}"
                f"/Partitions/{partition}")
        fmap = {}
        if offset is not None:
            fmap[Symbol("apache.org:selector-filter:string")] = \
                Described(Symbol("apache.org:selector-filter:string"),
                          f"amqp.annotation.x-opt-offset > '{offset}'")
        source = Described(ULong(D_SOURCE),
                           [addr, None, None, None, None, fmap])
        write_frame(self._write, 0, Described(
            ULong(P_ATTACH),
            [f"recv-{partition}", UInt(handle), True, None, None,
             source, Described(ULong(D_TARGET), [addr])]))
        self._expect(P_ATTACH)
        self._links[partition] = handle
        return handle

    def receive(self, partition: int, batch_size: int, *,
                offset: "int | None" = None) -> list[dict]:
        """One credit/drain cycle: issue batch_size credit with
        drain=true, collect transfers until the echo flow arrives,
        settle them accepted."""
        handle = self._links.get(partition)
        if handle is None:
            handle = self._attach(partition, offset=offset)
        write_frame(self._write, 0, Described(
            ULong(P_FLOW),
            [UInt(0), UInt(5000), UInt(0), UInt(5000), UInt(handle),
             UInt(0), UInt(batch_size), None, True]))
        out: list[dict] = []
        first_id = last_id = None
        pend_buf: "bytes | None" = None
        pend_did: "int | None" = None
        while True:
            frame = read_frame(self._read)
            if frame is None:
                raise Amqp10Error("connection closed mid-batch")
            _ch, perf, payload = frame
            if perf is None:
                continue
            d = int(perf.descriptor)
            if d == P_TRANSFER:
                if pend_buf is not None:
                    did = (int(perf.value[1])
                           if _lget(perf.value, 1) is not None
                           else pend_did)
                    if did != pend_did:
                        raise Amqp10Error("delivery-id changed "
                                          "mid-delivery")
                    payload = pend_buf + payload
                    pend_buf = None
                else:
                    did = int(perf.value[1])
                if bool(_lget(perf.value, 5, False)):  # more=true
                    pend_buf, pend_did = payload, did
                    continue
                first_id = did if first_id is None else first_id
                last_id = did
                msg = decode_message(payload)
                ann = msg["annotations"]
                out.append({
                    "body": msg["body"],
                    "app_properties": msg["app_properties"],
                    "offset": int(ann["x-opt-offset"]),
                    "sequence": int(ann["x-opt-sequence-number"]),
                    "enqueued_ms": int(ann["x-opt-enqueued-time"]),
                    "partition": partition})
            elif d == P_FLOW:
                break                     # drain echo: batch complete
            else:
                raise Amqp10Error(f"unexpected 0x{d:02x} mid-batch")
        if out:
            write_frame(self._write, 0, Described(
                ULong(P_DISPOSITION),
                [True, UInt(first_id), UInt(last_id), True,
                 Described(ULong(D_ACCEPTED), [])]))
        return out

    # -- sender half (PutAzureEventHub analog) -----------------------
    def _attach_sender(self, partition: "int | None") -> int:
        handle = self._next_handle
        self._next_handle += 1
        addr = (self.hub if partition is None
                else f"{self.hub}/Partitions/{partition}")
        write_frame(self._write, 0, Described(
            ULong(P_ATTACH),
            [f"send-{addr}", UInt(handle), False, None, None,
             Described(ULong(D_SOURCE), [addr]),
             Described(ULong(D_TARGET), [addr])]))
        self._expect(P_ATTACH)
        _flow, _ = self._expect(P_FLOW)       # server's credit grant
        self._send_links[partition] = handle
        return handle

    def send(self, body: bytes, app_properties: dict | None = None,
             *, partition: "int | None" = None,
             txn_id: "bytes | None" = None) -> None:
        """One unsettled transfer + wait for the accepted disposition
        (PutAzureEventHub.java's sendMessage future). With `txn_id`
        the transfer carries transactional-state (§4.4.4) — the event
        is invisible until the transaction discharges."""
        handle = self._send_links.get(partition)
        if handle is None:
            handle = self._attach_sender(partition)
        self._delivery += 1
        did = self._delivery
        msg = encode_message(body, app_properties=app_properties)
        lim = self.max_frame_payload or len(msg) or 1
        chunks = [msg[i:i + lim] for i in range(0, len(msg), lim)] or [b""]
        for ci, chunk in enumerate(chunks):
            fields = [UInt(handle), UInt(did), struct.pack(">I", did),
                      UInt(0), False, ci < len(chunks) - 1]
            if txn_id is not None and ci == 0:
                fields += [None, Described(ULong(TXN_STATE), [txn_id])]
            write_frame(self._write, 0, Described(
                ULong(P_TRANSFER), fields), chunk)
        disp, _ = self._expect(P_DISPOSITION)
        state = _lget(disp.value, 4)
        if isinstance(state, Described) \
                and int(state.descriptor) == TXN_STATE:
            outcome = _lget(state.value, 1)
            if bytes(state.value[0]) != txn_id or not (
                    isinstance(outcome, Described)
                    and int(outcome.descriptor) == D_ACCEPTED):
                raise Amqp10Error(f"txn delivery not accepted: "
                                  f"{state!r}")
            return
        if not (isinstance(state, Described)
                and int(state.descriptor) == D_ACCEPTED):
            raise Amqp10Error(f"delivery not accepted: {state!r}")

    # -- $cbs (claims-based security) --------------------------------
    def put_cbs_token(self, token: str, *,
                      audience: "str | None" = None) -> None:
        """The Event Hubs CBS dance: attach a sender/receiver pair to
        the ``$cbs`` node, send a put-token request (operation/type/
        name application-properties, token as the amqp-value body),
        and require the 202 reply correlated to the request
        message-id. Must run BEFORE hub links when the broker enforces
        CBS — unauthenticated attaches detach with
        amqp:unauthorized-access."""
        aud = audience or f"sb://{self.hub}"
        if not hasattr(self, "_cbs_pair"):
            snd = self._next_handle
            self._next_handle += 1
            write_frame(self._write, 0, Described(
                ULong(P_ATTACH),
                [f"cbs-snd-{snd}", UInt(snd), False, None, None,
                 Described(ULong(D_SOURCE), [None]),
                 Described(ULong(D_TARGET), [CBS_NODE])]))
            self._expect(P_ATTACH)
            self._expect(P_FLOW)
            rcv = self._next_handle
            self._next_handle += 1
            write_frame(self._write, 0, Described(
                ULong(P_ATTACH),
                [f"cbs-rcv-{rcv}", UInt(rcv), True, None, None,
                 Described(ULong(D_SOURCE), [CBS_NODE]),
                 Described(ULong(D_TARGET), [None])]))
            self._expect(P_ATTACH)
            self._cbs_pair = (snd, rcv)
            self._cbs_msg = 0
        snd, _rcv = self._cbs_pair
        self._cbs_msg += 1
        self._delivery += 1
        req = encode_message(
            b"",
            properties=[UInt(self._cbs_msg), None, None, None,
                        CBS_NODE, None],
            app_properties={"operation": "put-token",
                            "type": "servicebus.windows.net:sastoken",
                            "name": aud},
            value_body=token)
        write_frame(self._write, 0, Described(
            ULong(P_TRANSFER),
            [UInt(snd), UInt(self._delivery),
             struct.pack(">I", self._delivery), UInt(0), True,
             False]), req)
        perf, payload = self._expect(P_TRANSFER)
        reply = decode_message(payload)
        corr = _lget(reply["properties"], 5)
        if corr is None or int(corr) != self._cbs_msg:
            raise Amqp10Error("CBS reply correlation-id mismatch")
        status = int(reply["app_properties"].get("status-code", 500))
        if status != 202:
            raise Amqp10Error(
                f"CBS put-token refused: {status} "
                f"{reply['app_properties'].get('status-description')}")

    # -- transactions (§4.4) -----------------------------------------
    def _attach_coordinator(self) -> int:
        handle = self._next_handle
        self._next_handle += 1
        write_frame(self._write, 0, Described(
            ULong(P_ATTACH),
            [f"txn-ctl-{handle}", UInt(handle), False, None, None,
             Described(ULong(D_SOURCE), [None]),
             Described(ULong(TXN_COORDINATOR), [])]))
        self._expect(P_ATTACH)
        self._expect(P_FLOW)
        self._txn_handle = handle
        return handle

    def declare_txn(self) -> bytes:
        """§4.4.2: declare on the coordinator link → txn-id from the
        declared disposition state."""
        handle = self._txn_handle
        if handle is None:         # handle 0 is a live link, not "none"
            handle = self._attach_coordinator()
        self._delivery += 1
        did = self._delivery
        msg = encode_message(
            b"", value_body=Described(ULong(TXN_DECLARE), [None]))
        write_frame(self._write, 0, Described(
            ULong(P_TRANSFER),
            [UInt(handle), UInt(did), struct.pack(">I", did),
             UInt(0), False, False]), msg)
        disp, _ = self._expect(P_DISPOSITION)
        state = _lget(disp.value, 4)
        if not (isinstance(state, Described)
                and int(state.descriptor) == TXN_DECLARED):
            raise Amqp10Error(f"declare not honored: {state!r}")
        return bytes(state.value[0])

    def discharge_txn(self, txn_id: bytes, *,
                      fail: bool = False) -> None:
        """§4.4.3: discharge — fail=False commits the staged
        transfers, fail=True rolls them back."""
        handle = self._txn_handle
        if handle is None:
            raise Amqp10Error("no coordinator link (declare first)")
        self._delivery += 1
        did = self._delivery
        msg = encode_message(
            b"", value_body=Described(ULong(TXN_DISCHARGE),
                                      [txn_id, bool(fail)]))
        write_frame(self._write, 0, Described(
            ULong(P_TRANSFER),
            [UInt(handle), UInt(did), struct.pack(">I", did),
             UInt(0), False, False]), msg)
        disp, _ = self._expect(P_DISPOSITION)
        state = _lget(disp.value, 4)
        if not (isinstance(state, Described)
                and int(state.descriptor) == D_ACCEPTED):
            raise Amqp10Error(f"discharge not accepted: {state!r}")

    def close(self) -> None:
        write_frame(self._write, 0, Described(ULong(P_CLOSE), []))
        self._expect(P_CLOSE)


#: the class carries both halves (receiver links for GetAzureEventHub,
#: sender links for PutAzureEventHub) over one connection
EventHubClient = EventHubReceiver


def put_eventhub(client: EventHubReceiver,
                 rows: "list[tuple[bytes, dict]]", *,
                 partition: "int | None" = None) -> int:
    """PutAzureEventHub analog: one unsettled transfer per (body,
    app_properties) row, each confirmed accepted. partition=None
    sends to the bare hub address — the broker round-robins, like the
    service-assigned partition of a partition-key-less send."""
    for body, props in rows:
        client.send(body, props, partition=partition)
    return len(rows)


def eventhub_loopback(broker: EventHubBroker):
    import socket
    import threading

    a, b = socket.socketpair()
    errs: list[BaseException] = []
    result: list[int] = []

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
        a.close()
        t.join(timeout)
        if errs:
            raise errs[0]
        if t.is_alive():
            raise TimeoutError("eventhub broker did not finish")
        return result[0] if result else 0

    return a.recv, a.sendall, join


# -------------------------------------------------------- spool bridge


class GetEventHubSource(Spool):
    """GetAzureEventHub drain loop → parquet spool with the
    reference's exact attribute surface (GetAzureEventHub.java:63-67):
    eventhub.enqueued.timestamp / offset / sequence / name /
    partition. One receive(batch) per partition per pass, loops until
    every partition returns an empty batch."""

    def __init__(self, spool_dir: str):
        super().__init__(spool_dir, "msg_seq", "msg_seq")

    def drain(self, receiver: EventHubReceiver,
              partitions: list[int], *, batch_size: int = 100) -> int:
        import pyarrow as pa

        landed = 0
        active = list(partitions)
        while active:
            still = []
            for pid in active:
                msgs = receiver.receive(pid, batch_size)
                if not msgs:
                    continue
                still.append(pid)
                landed += self.land({
                    "eventhub_name": pa.array(
                        [receiver.hub] * len(msgs), pa.string()),
                    "eventhub_partition": pa.array(
                        [str(m["partition"]) for m in msgs],
                        pa.string()),
                    "eventhub_offset": pa.array(
                        [m["offset"] for m in msgs], pa.int64()),
                    "eventhub_sequence": pa.array(
                        [m["sequence"] for m in msgs], pa.int64()),
                    "eventhub_enqueued_timestamp": pa.array(
                        [m["enqueued_ms"] for m in msgs], pa.int64()),
                    "payload": pa.array([m["body"] for m in msgs],
                                        pa.binary()),
                    "app_properties": pa.array(
                        [sorted((str(k), str(v)) for k, v in
                                m["app_properties"].items())
                         for m in msgs],
                        pa.map_(pa.string(), pa.string())),
                })
            active = still
        return landed
