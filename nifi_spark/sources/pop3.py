"""ConsumePOP3 analog — POP3 client (and a server for loopback tests)
draining a mailbox to the parquet spool.

NiFi ancestor: ConsumePOP3 (nifi-email-bundle/.../ConsumePOP3.java —
spring-integration Pop3MailReceiver; one FlowFile per message,
should-delete-messages semantics). Here the POP3 dialogue itself is
implemented (RFC 1939 minimal profile: USER/PASS, STAT, LIST, RETR
with dot-stuffed multi-line responses, DELE with end-of-session
expunge, RSET, NOOP, QUIT) over the repo's injectable transport
convention — any (read_line() bytes, write(bytes)) pair; production
wraps a socket, tests loop back against `serve_pop3`. ConsumeIMAP
has its own full analog now (sources/imap.py — UID family, SEARCH,
IDLE, BODYSTRUCTURE); POP3 remains the lighter fetch-and-delete
ingest contract.

Landed messages take the listen-bridge spool shape; downstream
composes with operators.email_ops exactly like ListenSMTP's output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from nifi_spark.spool import Spool

_SPOOL_SCHEMA = ("batch_id bigint, msg_idx bigint, content string")


class Pop3Error(IOError):
    pass


# ----------------------------------------------------------- server


def serve_pop3(read_line, write, *, user: str, password: str,
               mailbox: list[bytes]) -> list[int]:
    """Serve ONE POP3 session; `mailbox` is mutated: messages DELEted
    (and confirmed by QUIT) are removed. Returns the deleted indexes
    (0-based, pre-expunge)."""
    def reply(text: str) -> None:
        write(text.encode() + b"\r\n")

    def multiline(payload: bytes) -> None:
        for ln in payload.split(b"\r\n"):
            if ln.startswith(b"."):
                ln = b"." + ln
            write(ln + b"\r\n")
        write(b".\r\n")

    reply("+OK nifi-spark POP3 ready")
    authed_user: "str | None" = None
    authed = False
    marked: set[int] = set()
    while True:
        line = read_line()
        if not line:
            return []                       # dropped: no expunge
        cmd = line.rstrip(b"\r\n").decode("utf-8", errors="replace")
        verb = cmd.split(" ", 1)[0].upper()
        arg = cmd[len(verb) + 1:].strip() if " " in cmd else ""
        if verb == "USER":
            authed_user = arg
            reply("+OK")
        elif verb == "PASS":
            if authed_user == user and arg == password:
                authed = True
                reply(f"+OK mailbox has {len(mailbox)} messages")
            else:
                reply("-ERR invalid credentials")
        elif not authed:
            reply("-ERR not authenticated")
        elif verb == "STAT":
            live = [m for i, m in enumerate(mailbox) if i not in marked]
            reply(f"+OK {len(live)} {sum(len(m) for m in live)}")
        elif verb == "LIST":
            reply("+OK")
            body = b"\r\n".join(
                f"{i + 1} {len(m)}".encode()
                for i, m in enumerate(mailbox) if i not in marked)
            multiline(body) if body else write(b".\r\n")
        elif verb == "RETR":
            i = int(arg) - 1
            if 0 <= i < len(mailbox) and i not in marked:
                reply(f"+OK {len(mailbox[i])} octets")
                multiline(mailbox[i])
            else:
                reply("-ERR no such message")
        elif verb == "DELE":
            i = int(arg) - 1
            if 0 <= i < len(mailbox) and i not in marked:
                marked.add(i)
                reply("+OK marked for deletion")
            else:
                reply("-ERR no such message")
        elif verb == "RSET":
            marked.clear()
            reply("+OK")
        elif verb == "NOOP":
            reply("+OK")
        elif verb == "QUIT":
            reply("+OK bye")
            deleted = sorted(marked)
            for i in reversed(deleted):     # expunge on QUIT (RFC 1939)
                del mailbox[i]
            return deleted
        else:
            reply("-ERR unrecognized command")


# ----------------------------------------------------------- client


def pop3_fetch(read_line, write, *, user: str, password: str,
               delete: bool = True) -> list[bytes]:
    """Fetch every message (ConsumePOP3's receive loop); with `delete`
    the reference's should-delete-messages=true behavior (DELE + QUIT
    expunge) — at-least-once: a crash before QUIT leaves messages."""
    def expect_ok() -> str:
        line = read_line().decode("utf-8", errors="replace").rstrip()
        if not line.startswith("+OK"):
            raise Pop3Error(f"server said {line!r}")
        return line

    def read_multiline() -> bytes:
        out: list[bytes] = []
        while True:
            ln = read_line()
            if not ln:
                raise Pop3Error("connection dropped mid-response")
            ln = ln.rstrip(b"\r\n")
            if ln == b".":
                break
            if ln.startswith(b"."):
                ln = ln[1:]
            out.append(ln)
        return b"\r\n".join(out)

    expect_ok()
    write(f"USER {user}\r\n".encode())
    expect_ok()
    write(f"PASS {password}\r\n".encode())
    expect_ok()
    write(b"STAT\r\n")
    n = int(expect_ok().split()[1])
    messages: list[bytes] = []
    for i in range(1, n + 1):
        write(f"RETR {i}\r\n".encode())
        expect_ok()
        messages.append(read_multiline())
        if delete:
            write(f"DELE {i}\r\n".encode())
            expect_ok()
    write(b"QUIT\r\n")
    expect_ok()
    return messages


class ConsumePOP3Source(Spool):
    """Drain-to-spool bridge: one pop3_fetch per drain → one spool
    file; exactly-once overall = POP3's delete-on-quit + the immutable
    spool (a crash between QUIT and spool rename loses nothing — the
    rename happens BEFORE QUIT confirms the deletes)."""

    schema = _SPOOL_SCHEMA

    def __init__(self, spool_dir: str):
        super().__init__(spool_dir)

    def drain(self, connect, *, user: str, password: str,
              delete: bool = True) -> int:
        """`connect()` → fresh (read_line, write) pair."""
        import pyarrow as pa

        read_line, write = connect()
        msgs = pop3_fetch(read_line, write, user=user,
                          password=password, delete=delete)
        return self.land({
            "content": pa.array([m.decode("utf-8", errors="replace")
                                 for m in msgs], pa.string()),
        })

    def read(self, spark: SparkSession) -> DataFrame:
        return super().read(spark).withColumn(
            "mime_type", F.lit("message/rfc822"))


def pop3_loopback(*, user: str, password: str, mailbox: list[bytes]):
    """Same-process loopback: serve_pop3 on one end of a socketpair
    (daemon thread, the site_to_site.loopback_serve pattern). Returns
    (connect, join): `connect()` → the client's (read_line, write);
    `join()` waits for the server and returns its deleted indexes,
    re-raising any server-side error."""
    import socket
    import threading

    a, b = socket.socketpair()
    result: list = []
    errs: list[BaseException] = []

    def run():
        try:
            f = b.makefile("rb")
            result.extend(serve_pop3(
                f.readline, b.sendall, user=user, password=password,
                mailbox=mailbox))
        except BaseException as exc:
            errs.append(exc)
        finally:
            b.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()

    def connect():
        f = a.makefile("rb")
        return f.readline, a.sendall

    def join(timeout: float = 30.0) -> list[int]:
        t.join(timeout)
        a.close()
        if errs:
            raise errs[0]
        if t.is_alive():
            raise TimeoutError("pop3 server did not finish")
        return result

    return connect, join
