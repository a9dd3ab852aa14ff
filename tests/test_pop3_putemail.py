"""ConsumePOP3 + PutEmail analogs: protocol loopbacks, dot-stuffing
symmetry, delete-on-quit expunge, spool landing, and the full circle
put_email → serve_smtp → mailbox → pop3_fetch."""

from __future__ import annotations

import pytest

from nifi_spark.sources.pop3 import (ConsumePOP3Source, Pop3Error,
                                     pop3_fetch, pop3_loopback,
                                     serve_pop3)
from nifi_spark.sources.smtp_listen import (SmtpMessage, compose_rfc822,
                                            lines_feed, put_email,
                                            serve_smtp, smtp_send)

_MSGS = [b"Subject: one\r\n\r\nbody 1",
         b"Subject: two\r\n\r\n.leading dot\r\nmore",
         b"Subject: three\r\n\r\nbody 3"]


def test_pop3_fetch_and_delete_on_quit():
    box = list(_MSGS)
    connect, join = pop3_loopback(user="u", password="p", mailbox=box)
    rl, w = connect()
    got = pop3_fetch(rl, w, user="u", password="p", delete=True)
    assert got == _MSGS                      # dot-stuffing roundtrips
    assert join() == [0, 1, 2]
    assert box == []                         # expunged on QUIT


def test_pop3_no_delete_keeps_mailbox():
    box = list(_MSGS)
    connect, join = pop3_loopback(user="u", password="p", mailbox=box)
    rl, w = connect()
    got = pop3_fetch(rl, w, user="u", password="p", delete=False)
    assert got == _MSGS
    assert join() == []
    assert box == _MSGS


def test_pop3_bad_credentials():
    connect, join = pop3_loopback(user="u", password="p",
                                  mailbox=list(_MSGS))
    rl, w = connect()
    with pytest.raises(Pop3Error, match="invalid credentials"):
        pop3_fetch(rl, w, user="u", password="WRONG")


def test_consume_pop3_source_spool(spark, tmp_path):
    box = list(_MSGS)
    src = ConsumePOP3Source(str(tmp_path / "spool"))
    connect, join = pop3_loopback(user="u", password="p", mailbox=box)
    assert src.drain(connect, user="u", password="p") == 3
    join()
    assert box == []
    # second drain of the (now empty) mailbox lands nothing
    connect2, join2 = pop3_loopback(user="u", password="p", mailbox=box)
    assert src.drain(connect2, user="u", password="p") == 0
    rows = src.read(spark).orderBy("msg_seq").collect()
    assert [r.content.split("\r\n")[0] for r in rows] == \
        ["Subject: one", "Subject: two", "Subject: three"]
    assert rows[0].mime_type == "message/rfc822"


def test_smtp_send_loopback():
    import socket
    import threading
    a, b = socket.socketpair()
    landed: list = []

    def run():
        f = b.makefile("rb")
        landed.extend(serve_smtp(f.readline, b.sendall))
        b.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    msgs = [SmtpMessage("h", "c", "a@x", ["b@y", "c@y"],
                        "Subject: s\r\n\r\n.dot line\r\nbody\r\n")]
    f = a.makefile("rb")
    assert smtp_send(msgs, f.readline, a.sendall) == 1
    t.join(10)
    assert len(landed) == 1
    assert landed[0].mail_from == "a@x"
    assert landed[0].recipients == ["b@y", "c@y"]
    # dot-stuffing applied on send, stripped on receive
    assert landed[0].content == "Subject: s\r\n\r\n.dot line\r\nbody\r\n"


def test_put_email_bounded_sink(spark):
    import socket
    import threading
    df = spark.createDataFrame(
        [("alerts@eng", ["oncall@eng"], "disk full", "node 7 at 98%"),
         ("alerts@eng", ["oncall@eng", "lead@eng"], "ok", "recovered")],
        "f string, t array<string>, s string, b string")
    landed: list = []
    servers: list = []

    def connect():
        a, b = socket.socketpair()

        def run():
            f = b.makefile("rb")
            landed.extend(serve_smtp(f.readline, b.sendall))
            b.close()

        t = threading.Thread(target=run, daemon=True)
        t.start()
        servers.append(t)
        f = a.makefile("rb")
        return f.readline, a.sendall

    assert put_email(df, from_col="f", to_col="t", subject_col="s",
                     body_col="b", connect=connect) == 2
    for t in servers:        # each server appends to `landed` on exit
        t.join(timeout=30)
    assert sorted(m.recipients[0] for m in landed) == \
        ["oncall@eng", "oncall@eng"]
    assert any("Subject: disk full" in m.content for m in landed)
    assert all("X-Mailer: nifi-spark" in m.content for m in landed)
    with pytest.raises(ValueError, match="alerting sink"):
        put_email(df, from_col="f", to_col="t", subject_col="s",
                  body_col="b", connect=connect, max_rows=1)


def test_full_circle_put_email_to_pop3(spark):
    """put_email → serve_smtp mailbox → pop3 fetch: the whole email
    round trip through both protocol implementations."""
    import socket
    import threading
    landed: list = []
    a, b = socket.socketpair()

    def run():
        f = b.makefile("rb")
        landed.extend(serve_smtp(f.readline, b.sendall))
        b.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    msg = compose_rfc822("a@x", ["b@y"], "circle", "all the way round")
    f = a.makefile("rb")
    smtp_send([SmtpMessage("h", "c", "a@x", ["b@y"], msg)],
              f.readline, a.sendall)
    t.join(10)
    box = [m.content.encode() for m in landed]
    connect, join = pop3_loopback(user="u", password="p", mailbox=box)
    rl, w = connect()
    fetched = pop3_fetch(rl, w, user="u", password="p")
    join()
    assert fetched == [msg.encode().rstrip(b"\r\n") + b""] or \
        fetched[0].decode().startswith("From: a@x")
    assert b"all the way round" in fetched[0]
