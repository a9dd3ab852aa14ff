"""ListenSMTP analog — a real SMTP receiver draining to parquet spool.

NiFi ancestors: ListenSMTP (nifi-email-bundle/.../ListenSMTP.java:69-80
— one FlowFile per received message, attributes smtp.helo / smtp.src /
smtp.from / smtp.recipient.N + mime.type=message/rfc822) and
SmtpConsumer.java:120-170 (the attribute map assembly; content = the
raw RFC822 data). The reference embeds SubEthaSMTP; here the SMTP
dialogue itself is implemented (RFC 5321 minimal profile: HELO/EHLO,
MAIL FROM, RCPT TO, DATA with dot-stuffing removal and dot terminator,
RSET, NOOP, QUIT; 552 on exceeding max_message_size like the
reference's SMTP_MAXIMUM_MSG_SIZE validator).

Transport is injectable like every bridge in this repo: any
(read_line() bytes, write(bytes)) pair — tests drive scripted
dialogues; production wraps a socket. Landed messages take the
listen-bridge spool shape (atomic-rename parquet, monotonic batch ids):
one row per message with the reference's attribute surface as typed
columns, content = raw message text. Downstream composes with
operators.email_ops (ExtractEmailHeaders/Attachments) as an ordinary
distributed scan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from nifi_spark.spool import Spool

_SPOOL_SCHEMA = ("batch_id bigint, msg_idx bigint, helo string, "
                 "src string, mail_from string, "
                 "recipients array<string>, content string")

_ADDR = re.compile(r"<([^>]*)>")


@dataclass
class SmtpMessage:
    helo: str
    src: str
    mail_from: str
    recipients: list[str]
    content: str


@dataclass
class _Envelope:
    mail_from: "str | None" = None
    recipients: list[str] = field(default_factory=list)


def _addr(arg: str) -> str:
    m = _ADDR.search(arg)
    return m.group(1) if m else arg.strip()


def serve_smtp(read_line, write, *, hostname: str = "nifi-spark",
               src: str = "unknown:0",
               max_message_size: int = 20 * 1024 * 1024
               ) -> list[SmtpMessage]:
    """Serve ONE SMTP connection to QUIT/EOF; returns the accepted
    messages. `read_line` yields one CRLF-terminated bytes line (b'' at
    EOF); `write` sends response bytes."""
    def reply(code_text: str) -> None:
        write(code_text.encode() + b"\r\n")

    messages: list[SmtpMessage] = []
    helo = ""
    env = _Envelope()
    reply(f"220 {hostname} ESMTP")
    while True:
        line = read_line()
        if not line:
            return messages
        cmd = line.rstrip(b"\r\n").decode("utf-8", errors="replace")
        verb = cmd.split(" ", 1)[0].upper()
        arg = cmd[len(verb) + 1:] if " " in cmd else ""
        if verb in ("HELO", "EHLO"):
            helo = arg.strip()
            if verb == "EHLO":
                write(f"250-{hostname}\r\n".encode())
                reply(f"250 SIZE {max_message_size}")
            else:
                reply(f"250 {hostname}")
        elif verb == "MAIL":
            env = _Envelope(mail_from=_addr(arg))
            reply("250 OK")
        elif verb == "RCPT":
            if env.mail_from is None:
                reply("503 need MAIL before RCPT")
                continue
            env.recipients.append(_addr(arg))
            reply("250 OK")
        elif verb == "DATA":
            if not env.recipients:
                reply("503 need RCPT before DATA")
                continue
            reply("354 End data with <CR><LF>.<CR><LF>")
            chunks: list[bytes] = []
            size = 0
            while True:
                dline = read_line()
                if not dline:
                    return messages          # connection died mid-DATA
                if dline.rstrip(b"\r\n") == b".":
                    break
                if dline.startswith(b"."):   # dot-unstuffing (RFC 5321)
                    dline = dline[1:]
                size += len(dline)
                if size <= max_message_size:
                    chunks.append(dline)
            if size > max_message_size:
                # the reference's max-size guard (ListenSMTP.java's
                # SMTP_MAXIMUM_MSG_SIZE): reject, drop the message
                reply("552 Message exceeds fixed maximum message size")
            else:
                messages.append(SmtpMessage(
                    helo=helo, src=src, mail_from=env.mail_from or "",
                    recipients=list(env.recipients),
                    content=b"".join(chunks).decode("utf-8",
                                                    errors="replace")))
                reply("250 OK message accepted")
            env = _Envelope()
        elif verb == "RSET":
            env = _Envelope()
            reply("250 OK")
        elif verb == "NOOP":
            reply("250 OK")
        elif verb == "QUIT":
            reply(f"221 {hostname} closing")
            return messages
        else:
            reply(f"500 unrecognized command {verb}")


def lines_feed(data: bytes):
    """Split a scripted client dialogue into a read_line() callable.
    Interior empty lines are REAL (the header/body separator inside
    DATA); only the artifact after the final terminator is dropped."""
    parts = data.split(b"\r\n")
    if parts and parts[-1] == b"":
        parts.pop()
    it = iter([p + b"\r\n" for p in parts])
    return lambda: next(it, b"")


class ListenSMTPSource(Spool):
    """Drain-to-spool bridge for SMTP connections (the listen.py
    pattern: atomic-rename parquet, crash-safe monotonic batch ids,
    msg_seq global order on read)."""

    schema = _SPOOL_SCHEMA

    def __init__(self, spool_dir: str, *, hostname: str = "nifi-spark",
                 max_message_size: int = 20 * 1024 * 1024):
        super().__init__(spool_dir)
        self.hostname = hostname
        self.max_message_size = max_message_size

    def drain_connection(self, read_line, write,
                         src: str = "unknown:0") -> int:
        """Serve one connection; land its messages as one spool file.
        Returns messages landed."""
        import pyarrow as pa

        msgs = serve_smtp(read_line, write, hostname=self.hostname,
                          src=src,
                          max_message_size=self.max_message_size)
        return self.land({
            "helo": pa.array([m.helo for m in msgs], pa.string()),
            "src": pa.array([m.src for m in msgs], pa.string()),
            "mail_from": pa.array([m.mail_from for m in msgs],
                                  pa.string()),
            "recipients": pa.array([m.recipients for m in msgs],
                                   pa.list_(pa.string())),
            "content": pa.array([m.content for m in msgs], pa.string()),
        })

    def read(self, spark: SparkSession) -> DataFrame:
        """Landed table + mime_type (the reference's
        CoreAttributes.MIME_TYPE, SmtpConsumer.java:167) and msg_seq."""
        return super().read(spark).withColumn(
            "mime_type", F.lit("message/rfc822"))


# ------------------------------------------------ client (PutEmail)


def smtp_send(messages: list[SmtpMessage], read_line, write, *,
              helo: str = "nifi-spark") -> int:
    """SMTP CLIENT dialogue (PutEmail's transport half,
    standard/PutEmail.java:296-340 — the javax.mail Transport.send
    analog): drives HELO/MAIL/RCPT/DATA against any server speaking the
    protocol, incl. `serve_smtp` in-process. Applies dot-stuffing on
    transmit (the inverse of the server's unstuffing). Returns messages
    accepted; raises on a rejecting reply."""
    def expect(prefix: str):
        line = read_line().decode("utf-8", errors="replace").rstrip()
        if not line.startswith(prefix):
            raise IOError(f"SMTP server said {line!r}, "
                          f"expected {prefix}xx")
        return line

    expect("2")                       # 220 greeting
    write(f"HELO {helo}\r\n".encode())
    expect("250")
    sent = 0
    for m in messages:
        write(f"MAIL FROM:<{m.mail_from}>\r\n".encode())
        expect("250")
        for r in m.recipients:
            write(f"RCPT TO:<{r}>\r\n".encode())
            expect("250")
        write(b"DATA\r\n")
        expect("354")
        body = m.content
        if not body.endswith("\r\n"):
            body += "\r\n"
        for line in body.split("\r\n")[:-1]:
            if line.startswith("."):
                line = "." + line
            write(line.encode() + b"\r\n")
        write(b".\r\n")
        expect("250")
        sent += 1
    write(b"QUIT\r\n")
    expect("221")
    return sent


def compose_rfc822(mail_from: str, to: list[str], subject: str,
                   body: str, *, cc: "list[str] | None" = None,
                   x_mailer: str = "nifi-spark",
                   extra_headers: "dict[str, str] | None" = None) -> str:
    """PutEmail's message assembly (PutEmail.java:296-316: From/To/CC,
    Subject, X-Mailer header, text/plain content)."""
    lines = [f"From: {mail_from}",
             f"To: {', '.join(to)}"]
    if cc:
        lines.append(f"Cc: {', '.join(cc)}")
    lines += [f"Subject: {subject}", f"X-Mailer: {x_mailer}",
              "Content-Type: text/plain"]
    for k, v in (extra_headers or {}).items():
        lines.append(f"{k}: {v}")
    lines += ["", body]
    return "\r\n".join(lines) + "\r\n"


def put_email(df, *, from_col: str, to_col: str, subject_col: str,
              body_col: str, connect, max_rows: int = 1000) -> int:
    """PutEmail analog: send one email per row. BOUNDED DRIVER SINK by
    contract — email is an alerting channel, not a data plane; the cap
    raises rather than silently truncating (same bounded-collect rule
    as every driver aggregate in this repo). `connect()` must return a
    fresh (read_line, write) transport pair."""
    rows = df.select(from_col, to_col, subject_col,
                     body_col).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(f"put_email: >{max_rows} rows — email is an "
                         "alerting sink; raise max_rows deliberately "
                         "or aggregate first")
    msgs = []
    for r in rows:
        to = r[1] if isinstance(r[1], list) else [r[1]]
        msgs.append(SmtpMessage(
            helo="nifi-spark", src="driver", mail_from=r[0],
            recipients=list(to),
            content=compose_rfc822(r[0], list(to), r[2], r[3])))
    read_line, write = connect()
    return smtp_send(msgs, read_line, write)
