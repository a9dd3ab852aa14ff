"""ListenRELP analog — the RELP (Reliable Event Logging Protocol)
frame codec + server, draining acknowledged syslog events to spool.

NiFi ancestors: ListenRELP.java + relp/frame/RELPDecoder.java (the
byte state machine TXNR→COMMAND→LENGTH→DATA→TRAILER mirrored here,
including its quirk that a zero-length frame ends at the DELIMITER
directly after the length), relp/response/RELPResponse.java (rsp frames
``code message[\\n data]``; open echoes the accepted offers joined by
the delimiter). RELP's value over plain syslog-TCP is the ack: a
client knows exactly which txnrs the server accepted — the reference
acks AFTER the session commit; this bridge acks a syslog frame only
after it is staged, and stages land in the spool file when the
connection drains, so an un-acked frame is never silently consumed.

Wire format: ``txnr SP command SP datalen [SP data] LF``.
Commands: open (offers key=value per line), syslog (one event), close.
"""

from __future__ import annotations

from dataclasses import dataclass

from nifi_spark.spool import Spool

_SPOOL_SCHEMA = ("batch_id bigint, msg_idx bigint, txnr bigint, "
                 "sender string, raw string")


class RelpError(ValueError):
    pass


@dataclass
class RelpFrame:
    txnr: int
    command: str
    data: bytes


def encode_frame(txnr: int, command: str, data: bytes = b"") -> bytes:
    head = f"{txnr} {command} {len(data)}".encode()
    return head + (b" " + data if data else b"") + b"\n"


class RelpDecoder:
    """Streaming decoder (RELPDecoder.java's states, buffer-at-a-time):
    feed() bytes, collect complete frames."""

    def __init__(self):
        self._state = "TXNR"
        self._buf = bytearray()
        self._txnr = 0
        self._command = ""
        self._need = 0
        self._frames: list[RelpFrame] = []

    def feed(self, data: bytes) -> list[RelpFrame]:
        for b in data:
            self._byte(b)
        out, self._frames = self._frames, []
        return out

    def _byte(self, b: int) -> None:
        if self._state == "TXNR":
            if b == 0x20:
                if self._buf:
                    self._txnr = int(self._buf.decode())
                    self._buf.clear()
                    self._state = "COMMAND"
            elif b == 0x0A:
                pass                      # stray delimiter between frames
            else:
                self._buf.append(b)
        elif self._state == "COMMAND":
            if b == 0x20:
                self._command = self._buf.decode()
                self._buf.clear()
                self._state = "LENGTH"
            else:
                self._buf.append(b)
        elif self._state == "LENGTH":
            # reference quirk: a 0-length frame ends at the DELIMITER
            # right after the digits (RELPDecoder.processLENGTH)
            if b == 0x20 or (self._buf and b == 0x0A):
                self._need = int(self._buf.decode())
                self._buf.clear()
                if b == 0x20 and self._need > 0:
                    self._state = "DATA"
                else:
                    self._emit(b"")
            else:
                self._buf.append(b)
        elif self._state == "DATA":
            self._buf.append(b)
            if len(self._buf) == self._need:
                self._emit(bytes(self._buf))
                self._buf.clear()
                self._state = "TRAILER"
        elif self._state == "TRAILER":
            if b != 0x0A:
                raise RelpError(f"expected frame trailer, got {b:#x}")
            self._state = "TXNR"

    def _emit(self, data: bytes) -> None:
        self._frames.append(RelpFrame(self._txnr, self._command, data))
        # zero-length frames end at (or just before) their delimiter —
        # the TXNR state ignores a stray delimiter; data frames still
        # owe their trailing LF
        self._state = "TXNR" if not data else "TRAILER"


def _rsp(txnr: int, code: int, message: str,
         data: "str | None" = None) -> bytes:
    body = f"{code} {message}"
    if data:
        body += "\n" + data
    return encode_frame(txnr, "rsp", body.encode())


def serve_relp(read, write, *, sender: str = "unknown:0",
               offers: "dict[str, str] | None" = None
               ) -> list[tuple[int, str, bytes]]:
    """Serve ONE connection until close/EOF; returns acknowledged
    (txnr, sender, payload) syslog events. Unknown commands get 500."""
    offers = offers or {"relp_version": "0", "commands": "syslog"}
    dec = RelpDecoder()
    accepted: list[tuple[int, str, bytes]] = []
    opened = False
    while True:
        chunk = read(4096)
        if not chunk:
            return accepted
        for fr in dec.feed(chunk):
            if fr.command == "open":
                opened = True
                echo = "\n".join(f"{k}={v}" for k, v in offers.items())
                write(_rsp(fr.txnr, 200, "OK", echo))
            elif fr.command == "syslog":
                if not opened:
                    write(_rsp(fr.txnr, 500, "ERROR"))
                    continue
                accepted.append((fr.txnr, sender, fr.data))
                write(_rsp(fr.txnr, 200, "OK"))
            elif fr.command == "close":
                write(_rsp(fr.txnr, 200, "OK"))
                write(encode_frame(0, "serverclose", b""))
                return accepted
            else:
                write(_rsp(fr.txnr, 500, "ERROR"))


def bytes_feed(data: bytes, chunk: int = 7):
    """Scripted client bytes as a read(n) in deliberately-awkward
    chunks (exercises the streaming decoder across frame boundaries)."""
    pos = 0

    def read(n: int) -> bytes:
        nonlocal pos
        out = data[pos:pos + min(n, chunk)]
        pos += len(out)
        return out

    return read


class ListenRELPSource(Spool):
    """Drain-to-spool bridge (listen.py pattern); rows keep the RELP
    txnr so downstream dedup/ordering can use the protocol's own
    sequence (ListenRELP emits it as the relp.txnr attribute)."""

    schema = _SPOOL_SCHEMA

    def __init__(self, spool_dir: str):
        super().__init__(spool_dir)

    def drain_connection(self, read, write,
                         sender: str = "unknown:0") -> int:
        import pyarrow as pa

        events = serve_relp(read, write, sender=sender)
        return self.land({
            "txnr": pa.array([t for t, _, _ in events], pa.int64()),
            "sender": pa.array([s for _, s, _ in events], pa.string()),
            "raw": pa.array([d.decode("utf-8", errors="replace")
                             for _, _, d in events], pa.string()),
        })
