"""GetJMSQueue/GetJMSTopic/PutJMS analog — STOMP 1.2, the open wire
protocol the reference's JMS provider (ActiveMQ) speaks natively.

NiFi ancestors: GetJMSQueue/GetJMSTopic (standard/GetJMSQueue.java,
GetJMSTopic.java — one FlowFile per javax.jms message, properties
flattened to ``jms.<name>`` / ``jms.<name>.type`` attributes,
JmsFactory.createAttributeMap, util/JmsFactory.java:442-482), PutJMS
(standard/PutJMS.java), ack modes Client/Auto
(util/JmsProperties.java:28-29,128-129). JMS itself is a Java API,
not a protocol; its portable wire form is STOMP — so the honest
from-scratch analog is a STOMP 1.2 codec + broker + client over the
repo's injectable byte-stream convention (``read(n)``/``write(b)``,
production wraps a socket, tests loop back on a socketpair).

STOMP 1.2 (stomp.github.io/stomp-specification-1.2.html) subset:
CONNECT/CONNECTED version negotiation, SEND with content-length,
SUBSCRIBE id/destination/ack (auto | client | client-individual),
MESSAGE with per-message ``ack`` ids, ACK (cumulative under
``client``, single under ``client-individual``), NACK, RECEIPT,
DISCONNECT, ERROR, header escaping (``\\n \\r \\c \\\\`` — NOT on
CONNECT/CONNECTED, per spec). Destinations use the ActiveMQ
convention: ``/queue/x`` = point-to-point (each message consumed
once), ``/topic/x`` = broadcast to every live subscription
(GetJMSQueue vs GetJMSTopic).

The drain is RECEIPT-bounded (the AMQP connector's heartbeat-drain
shape): the client sends a frame carrying ``receipt``, collects
pushed MESSAGE frames until the matching RECEIPT arrives — a
deterministic batch boundary with no timing dependence.
"""

from __future__ import annotations

from nifi_spark.spool import Spool


class StompError(IOError):
    pass


# --------------------------------------------------------- frame codec

# Header escaping (spec §Value Encoding): applied to EVERY frame except
# CONNECT/CONNECTED. Decode order matters: \\ last on encode, first-win
# scan on decode.
_ESC = {"\\": "\\\\", "\r": "\\r", "\n": "\\n", ":": "\\c"}
_UNESC = {"\\\\": "\\", "\\r": "\r", "\\n": "\n", "\\c": ":"}
_NO_ESCAPE = {"CONNECT", "CONNECTED"}


def _esc(s: str) -> str:
    return "".join(_ESC.get(c, c) for c in s)


def _unesc(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        if s[i] == "\\":
            tok = s[i:i + 2]
            if tok not in _UNESC:
                raise StompError(f"bad escape {tok!r}")
            out.append(_UNESC[tok])
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def encode_frame(command: str, headers: "dict[str, str]",
                 body: bytes = b"") -> bytes:
    """One STOMP frame. A body always gets content-length (spec
    SHOULD; required for binary bodies containing NUL)."""
    esc = command not in _NO_ESCAPE
    lines = [command]
    hdrs = dict(headers)
    if body and "content-length" not in hdrs:
        hdrs["content-length"] = str(len(body))
    for k, v in hdrs.items():
        if esc:
            k, v = _esc(k), _esc(str(v))
        lines.append(f"{k}:{v}")
    return ("\n".join(lines) + "\n\n").encode() + body + b"\x00"


def _read_exact(read, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = read(n - len(buf))
        if not chunk:
            raise StompError(f"stream ended ({len(buf)}/{n})")
        buf += chunk
    return buf


def read_frame(read) -> "tuple[str, dict[str, str], bytes] | None":
    """→ (command, headers, body) or None at clean EOF. Skips
    inter-frame EOLs (heart-beats are bare newlines). First-written
    duplicate header wins (spec §Repeated Header Entries)."""
    # command line (skipping heart-beat newlines)
    line = bytearray()
    while True:
        c = read(1)
        if not c:
            return None if not line else _eof()
        if c in (b"\n", b"\r") and not line:
            continue                      # heart-beat / EOL between frames
        if c == b"\n":
            break
        line += c
    command = line.rstrip(b"\r").decode()
    headers: dict[str, str] = {}
    while True:
        line = bytearray()
        while (c := read(1)) != b"\n":
            if not c:
                _eof()
            line += c
        s = line.rstrip(b"\r").decode()
        if not s:
            break
        k, sep, v = s.partition(":")
        if not sep:
            raise StompError(f"malformed header line {s!r}")
        if command not in _NO_ESCAPE:
            k, v = _unesc(k), _unesc(v)
        headers.setdefault(k, v)
    if "content-length" in headers:
        body = _read_exact(read, int(headers["content-length"]))
        if _read_exact(read, 1) != b"\x00":
            raise StompError("missing frame NUL after content-length body")
    else:
        body = bytearray()
        while (c := read(1)) != b"\x00":
            if not c:
                _eof()
            body += c
        body = bytes(body)
    return command, headers, bytes(body)


def _eof():
    raise StompError("stream ended mid-frame")


# -------------------------------------------------------------- broker


class StompBroker:
    """Single-session STOMP 1.2 broker for loopback tests (the AMQP
    connector's pattern). /queue/* destinations hold messages until a
    subscription consumes them; /topic/* fan out to live subscribers
    and drop otherwise (JMS non-durable topic semantics —
    GetJMSTopic's default, DURABLE_SUBSCRIPTION=false)."""

    def __init__(self, *, login: "str | None" = None,
                 passcode: "str | None" = None):
        self.login, self.passcode = login, passcode
        self.queues: "dict[str, list[tuple[dict, bytes]]]" = {}
        self.subs: "dict[str, tuple[str, str]]" = {}  # id → (dest, ack)
        self.unacked: "dict[int, str]" = {}           # ack id → sub id
        self._next_msg = 0
        self.delivered = 0

    def pre_queue(self, dest: str, msgs: "list[tuple[dict, bytes]]"):
        self.queues.setdefault(dest, []).extend(msgs)

    def serve(self, read, write) -> int:
        fr = read_frame(read)
        if fr is None:
            return 0
        command, headers, _ = fr
        if command not in ("CONNECT", "STOMP"):
            raise StompError(f"expected CONNECT, got {command}")
        if "1.2" not in headers.get("accept-version", "1.2").split(","):
            write(encode_frame("ERROR", {"message": "version"}))
            return 0
        if self.login is not None and (
                headers.get("login") != self.login
                or headers.get("passcode") != self.passcode):
            write(encode_frame("ERROR", {"message": "not authorized"}))
            return 0
        write(encode_frame("CONNECTED", {"version": "1.2",
                                         "heart-beat": "0,0"}))
        while True:
            fr = read_frame(read)
            if fr is None:
                return self.delivered
            command, headers, body = fr
            receipt = headers.get("receipt")
            if command == "SEND":
                dest = headers["destination"]
                user = {k: v for k, v in headers.items()
                        if k not in ("destination", "receipt",
                                     "content-length", "content-type",
                                     "transaction")}
                if "content-type" in headers:
                    user["content-type"] = headers["content-type"]
                if dest.startswith("/topic/"):
                    for sid, (sdest, ack) in self.subs.items():
                        if sdest == dest:
                            self._deliver(write, sid, ack, dest, user,
                                          body)
                else:
                    self.queues.setdefault(dest, []).append((user, body))
                    self._flush(write)
            elif command == "SUBSCRIBE":
                sid, dest = headers["id"], headers["destination"]
                ack = headers.get("ack", "auto")
                if ack not in ("auto", "client", "client-individual"):
                    raise StompError(f"bad ack mode {ack!r}")
                self.subs[sid] = (dest, ack)
                self._flush(write)
            elif command == "UNSUBSCRIBE":
                self.subs.pop(headers["id"], None)
            elif command == "ACK":
                aid = int(headers["id"])
                if aid not in self.unacked:
                    raise StompError(f"unknown ack id {aid}")
                sid = self.unacked[aid]
                if self.subs.get(sid, ("", "client"))[1] == "client":
                    # cumulative: this id and every earlier one of the
                    # same subscription (JMS Client Acknowledge)
                    for k in [k for k in self.unacked
                              if k <= aid and self.unacked[k] == sid]:
                        del self.unacked[k]
                else:
                    del self.unacked[aid]
            elif command == "NACK":
                aid = int(headers["id"])
                self.unacked.pop(aid, None)
            elif command == "DISCONNECT":
                if receipt:
                    write(encode_frame("RECEIPT",
                                       {"receipt-id": receipt}))
                return self.delivered
            else:
                raise StompError(f"unexpected frame {command}")
            if receipt and command != "DISCONNECT":
                write(encode_frame("RECEIPT", {"receipt-id": receipt}))

    def _flush(self, write) -> None:
        for sid, (dest, ack) in self.subs.items():
            if dest.startswith("/topic/"):
                continue
            q = self.queues.get(dest, [])
            while q:
                user, body = q.pop(0)
                self._deliver(write, sid, ack, dest, user, body)

    def _deliver(self, write, sid: str, ack: str, dest: str,
                 user: "dict[str, str]", body: bytes) -> None:
        mid = self._next_msg
        self._next_msg += 1
        hdrs = {"subscription": sid, "message-id": f"msg-{mid}",
                "destination": dest, **user}
        if ack != "auto":
            hdrs["ack"] = str(mid)
            self.unacked[mid] = sid
        write(encode_frame("MESSAGE", hdrs, body))
        self.delivered += 1


# -------------------------------------------------------------- client


class StompClient:
    def __init__(self, read, write, *, login: "str | None" = None,
                 passcode: "str | None" = None, host: str = "/"):
        self.read, self.write = read, write
        self._next_receipt = 0
        hdrs = {"accept-version": "1.2", "host": host}
        if login is not None:
            hdrs.update(login=login, passcode=passcode or "")
        write(encode_frame("CONNECT", hdrs))
        fr = read_frame(read)
        if fr is None or fr[0] != "CONNECTED":
            raise StompError(f"connect refused: {fr and fr[1]}")
        self.version = fr[1].get("version", "")

    def send(self, destination: str, body: bytes,
             headers: "dict[str, str] | None" = None) -> None:
        self.write(encode_frame(
            "SEND", {"destination": destination, **(headers or {})},
            body))

    def subscribe(self, destination: str, *, sub_id: str = "sub-0",
                  ack: str = "auto") -> str:
        self.write(encode_frame("SUBSCRIBE", {
            "id": sub_id, "destination": destination, "ack": ack}))
        return sub_id

    def drain(self, *, ack: bool = True) -> "list[tuple[dict, bytes]]":
        """RECEIPT-bounded drain: collect pushed MESSAGE frames until
        the receipt for a no-op marker arrives. → [(headers, body)];
        acks each message carrying an ``ack`` header (cumulative modes
        collapse server-side)."""
        rid = f"r-{self._next_receipt}"
        self._next_receipt += 1
        # SUBSCRIBE to a throwaway topic = receipted no-op marker
        self.write(encode_frame("SUBSCRIBE", {
            "id": f"_mark-{rid}", "destination": "/topic/_mark",
            "receipt": rid}))
        out: "list[tuple[dict, bytes]]" = []
        while True:
            fr = read_frame(self.read)
            if fr is None:
                raise StompError("EOF awaiting receipt")
            command, headers, body = fr
            if command == "RECEIPT":
                if headers.get("receipt-id") != rid:
                    raise StompError("receipt id mismatch")
                self.write(encode_frame(
                    "UNSUBSCRIBE", {"id": f"_mark-{rid}"}))
                return out
            if command == "ERROR":
                raise StompError(headers.get("message", "server error"))
            if command != "MESSAGE":
                raise StompError(f"unexpected frame {command}")
            if ack and "ack" in headers:
                self.write(encode_frame("ACK", {"id": headers["ack"]}))
            out.append((headers, body))

    def disconnect(self) -> None:
        rid = f"r-{self._next_receipt}"
        self.write(encode_frame("DISCONNECT", {"receipt": rid}))
        fr = read_frame(self.read)
        if fr is None or fr[0] != "RECEIPT" or fr[1].get(
                "receipt-id") != rid:
            raise StompError("disconnect receipt missing")


def stomp_loopback(broker: StompBroker):
    """Broker on a socketpair thread → (read, write, join); join()
    returns the broker's delivered-message count."""
    import socket
    import threading

    a, b = socket.socketpair()
    result: "list[int]" = []
    errs: "list[BaseException]" = []

    def run():
        try:
            result.append(broker.serve(b.recv, b.sendall))
        except BaseException as exc:      # surfaced by join()
            errs.append(exc)
        finally:
            b.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()

    def join() -> int:
        a.close()
        t.join(timeout=10)
        if errs:
            raise errs[0]
        return result[0] if result else 0

    return a.recv, a.sendall, join


# ----------------------------------------------------------- bridge


_JMS_TYPE = "String"   # STOMP headers are strings; the reference's
# createAttributeMap types them per Java class (JmsFactory.java:460-479)
# — over STOMP every user property arrives as PROP_TYPE_STRING.


class GetJMSSource(Spool):
    """Drain-to-spool bridge (GetJMSQueue's receive loop): one
    client.drain per drain call → one spool file, message properties
    flattened the reference way — ``jms.<name>`` value columns live in
    a map alongside ``jms.<name>.type`` (util/JmsFactory.java:442-482;
    all String over STOMP)."""

    def __init__(self, spool_dir: str):
        super().__init__(spool_dir, "msg_seq", "msg_seq")

    def drain(self, client: StompClient) -> int:
        import pyarrow as pa

        msgs = client.drain()
        dests, mids, bodies, attrs = [], [], [], []
        for headers, body in msgs:
            dests.append(headers.get("destination", ""))
            mids.append(headers.get("message-id", ""))
            bodies.append(body)
            user = {k: v for k, v in headers.items()
                    if k not in ("destination", "message-id",
                                 "subscription", "ack",
                                 "content-length")}
            flat: "dict[str, str]" = {}
            for k, v in sorted(user.items()):
                flat[f"jms.{k}"] = v
                flat[f"jms.{k}.type"] = _JMS_TYPE
            attrs.append(flat)
        return self.land({
            "destination": pa.array(dests, pa.string()),
            "message_id": pa.array(mids, pa.string()),
            "payload": pa.array(bodies, pa.binary()),
            "attributes": pa.array(
                attrs, pa.map_(pa.string(), pa.string())),
        })


def put_jms(client: StompClient, destination: str,
            rows: "list[tuple[bytes, dict]]") -> int:
    """PutJMS analog (standard/PutJMS.java): publish each (body,
    properties) row; properties ride as STOMP user headers."""
    for body, props in rows:
        client.send(destination, body,
                    {str(k): str(v) for k, v in props.items()})
    return len(rows)
