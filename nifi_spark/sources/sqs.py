"""GetSQS / PutSQS / DeleteSQS analogs — the AWS SQS Query API over
HTTP with REAL Signature Version 4 request signing, all from public
specs (the SQS API reference and the SigV4 signing documentation;
SigV4 is pure HMAC-SHA256 + SHA256, both in hashlib).

NiFi ancestors: nifi-aws-bundle GetSQS.java (ReceiveMessage with
MaxNumberOfMessages/VisibilityTimeout/WaitTimeSeconds, attributes
``sqs.<attr>`` + ``sqs.receipt.handle``, auto-delete after emit),
PutSQS.java (SendMessage with message attributes), DeleteSQS.java
(DeleteMessageBatch). The reference rides the AWS Java SDK; here the
wire shape itself is implemented: the form-encoded Query-protocol
request body (Action=ReceiveMessage&...), the XML response envelope,
and SigV4 — canonical request (method, path, sorted query, canonical
headers, signed-headers list, payload hash), string-to-sign with the
credential scope, the four-level derived key
HMAC(HMAC(HMAC(HMAC("AWS4"+secret, date), region), service),
"aws4_request"), and the Authorization header. The in-process
`SqsServer` VERIFIES the signature on every request (clock-skew and
body-hash checks included) before touching the queue — a request
signed with the wrong secret is rejected with 403
SignatureDoesNotMatch, which is the contract that matters.

Visibility timeout is modeled logically (received messages move to an
in-flight set; DeleteMessage removes them; `requeue_inflight` puts
them back — the timer itself is the caller's clock, keeping tests
deterministic).

Transport = injectable ``transport(url, method, headers, body) ->
(status, response_body)``; tests wire it straight to
`SqsServer.handle`.
"""

from __future__ import annotations

import hashlib
import hmac
import re
import urllib.parse
from xml.etree import ElementTree as ET

from nifi_spark.spool import Spool


class SqsError(IOError):
    pass


# -------------------------------------------------------------- SigV4


def _sha256_hex(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def _hmac(key: bytes, msg: str) -> bytes:
    return hmac.new(key, msg.encode(), hashlib.sha256).digest()


def sigv4_signing_key(secret: str, date: str, region: str,
                      service: str) -> bytes:
    """kSigning = HMAC(HMAC(HMAC(HMAC("AWS4"+secret, date), region),
    service), "aws4_request") — the documented derivation."""
    k = _hmac(("AWS4" + secret).encode(), date)
    k = _hmac(k, region)
    k = _hmac(k, service)
    return _hmac(k, "aws4_request")


def _canonical_query(qs: str) -> str:
    pairs = urllib.parse.parse_qsl(qs, keep_blank_values=True)
    enc = [(urllib.parse.quote(k, safe="-_.~"),
            urllib.parse.quote(v, safe="-_.~")) for k, v in pairs]
    return "&".join(f"{k}={v}" for k, v in sorted(enc))


def sigv4_sign(method: str, url: str, headers: dict[str, str],
               body: bytes, *, access_key: str, secret_key: str,
               region: str, service: str = "sqs",
               amz_date: str = "20260101T000000Z") -> dict[str, str]:
    """Return headers + the SigV4 Authorization header. `amz_date` is
    explicit (no wall clock — deterministic tests; production passes
    the current UTC instant)."""
    parsed = urllib.parse.urlsplit(url)
    date = amz_date[:8]
    hdrs = dict(headers)
    hdrs["host"] = parsed.netloc
    hdrs["x-amz-date"] = amz_date
    payload_hash = _sha256_hex(body)
    hdrs["x-amz-content-sha256"] = payload_hash
    canon_hdrs = {k.lower(): " ".join(v.split())
                  for k, v in hdrs.items()}
    signed = ";".join(sorted(canon_hdrs))
    canonical = "\n".join([
        method.upper(), parsed.path or "/",
        _canonical_query(parsed.query),
        "".join(f"{k}:{canon_hdrs[k]}\n" for k in sorted(canon_hdrs)),
        signed, payload_hash])
    scope = f"{date}/{region}/{service}/aws4_request"
    sts = "\n".join(["AWS4-HMAC-SHA256", amz_date, scope,
                     _sha256_hex(canonical.encode())])
    key = sigv4_signing_key(secret_key, date, region, service)
    sig = hmac.new(key, sts.encode(), hashlib.sha256).hexdigest()
    hdrs["authorization"] = (
        f"AWS4-HMAC-SHA256 Credential={access_key}/{scope}, "
        f"SignedHeaders={signed}, Signature={sig}")
    return hdrs


_AUTH_RE = re.compile(
    r"AWS4-HMAC-SHA256 Credential=(?P<ak>[^/]+)/(?P<date>\d{8})/"
    r"(?P<region>[^/]+)/(?P<service>[^/]+)/aws4_request, "
    r"SignedHeaders=(?P<signed>[^,]+), Signature=(?P<sig>[0-9a-f]{64})")


def sigv4_verify(method: str, url: str, headers: dict[str, str],
                 body: bytes, *, secrets: dict[str, str]) -> str:
    """Server-side verification; returns the access key on success,
    raises SqsError on any mismatch."""
    hdrs = {k.lower(): v for k, v in headers.items()}
    m = _AUTH_RE.match(hdrs.get("authorization", ""))
    if not m:
        raise SqsError("MissingAuthenticationToken")
    ak = m.group("ak")
    if ak not in secrets:
        raise SqsError("InvalidClientTokenId")
    if _sha256_hex(body) != hdrs.get("x-amz-content-sha256"):
        raise SqsError("XAmzContentSHA256Mismatch")
    amz_date = hdrs.get("x-amz-date", "")
    if not amz_date.startswith(m.group("date")):
        raise SqsError("SignatureDoesNotMatch: date scope")
    expect = sigv4_sign(
        method, url,
        {k: v for k, v in hdrs.items()
         if k in m.group("signed").split(";")
         and k not in ("host", "x-amz-date", "x-amz-content-sha256")},
        body, access_key=ak, secret_key=secrets[ak],
        region=m.group("region"), service=m.group("service"),
        amz_date=amz_date)["authorization"]
    got_sig = m.group("sig")
    want = _AUTH_RE.match(expect).group("sig")
    if not hmac.compare_digest(got_sig, want):
        raise SqsError("SignatureDoesNotMatch")
    return ak


# -------------------------------------------------------------- server


def _xml(tag: str, children: str) -> str:
    return f"<{tag}>{children}</{tag}>"


def _esc(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


class SqsServer:
    """In-memory queue service speaking the Query protocol with SigV4
    verification. Queues: name -> list of (message_id, body,
    attributes dict). In-flight messages sit in `inflight` keyed by
    receipt handle until deleted or requeued."""

    def __init__(self, *, region: str = "us-east-1",
                 secrets: dict[str, str] | None = None):
        self.region = region
        self.secrets = secrets or {}
        self.queues: dict[str, list[tuple[str, str, dict]]] = {}
        self.inflight: dict[str, tuple[str, tuple]] = {}
        self._next_id = 0
        self.rejected = 0

    def create_queue(self, name: str) -> None:
        self.queues.setdefault(name, [])

    def handle(self, url: str, method: str, headers: dict[str, str],
               body: bytes) -> tuple[int, bytes]:
        try:
            sigv4_verify(method, url, headers, body,
                         secrets=self.secrets)
        except SqsError as exc:
            self.rejected += 1
            code = ("SignatureDoesNotMatch"
                    if "Signature" in str(exc) else str(exc))
            return 403, _xml("ErrorResponse", _xml("Error", _xml(
                "Code", code))).encode()
        params = dict(urllib.parse.parse_qsl(body.decode()))
        queue = urllib.parse.urlsplit(url).path.strip("/").split(
            "/")[-1]
        action = params.get("Action", "")
        if queue not in self.queues:
            return 400, _xml("ErrorResponse", _xml("Error", _xml(
                "Code", "AWS.SimpleQueueService.NonExistentQueue"
            ))).encode()
        if action == "SendMessage":
            self._next_id += 1
            mid = f"m-{self._next_id:08d}"
            attrs = {}
            i = 1
            while f"MessageAttribute.{i}.Name" in params:
                attrs[params[f"MessageAttribute.{i}.Name"]] = params.get(
                    f"MessageAttribute.{i}.Value.StringValue", "")
                i += 1
            msg_body = params.get("MessageBody", "")
            self.queues[queue].append((mid, msg_body, attrs))
            return 200, _xml("SendMessageResponse", _xml(
                "SendMessageResult",
                _xml("MessageId", mid)
                + _xml("MD5OfMessageBody",
                       hashlib.md5(msg_body.encode()).hexdigest())
            )).encode()
        if action == "ReceiveMessage":
            n = int(params.get("MaxNumberOfMessages", "1"))
            out, rest = self.queues[queue][:n], self.queues[queue][n:]
            self.queues[queue] = rest
            parts = []
            for mid, mbody, attrs in out:
                rh = f"rh-{mid}"
                self.inflight[rh] = (queue, (mid, mbody, attrs))
                attr_xml = "".join(
                    _xml("MessageAttribute",
                         _xml("Name", _esc(k))
                         + _xml("Value", _xml("StringValue", _esc(v))
                                + _xml("DataType", "String")))
                    for k, v in sorted(attrs.items()))
                parts.append(_xml("Message",
                                  _xml("MessageId", mid)
                                  + _xml("ReceiptHandle", rh)
                                  + _xml("MD5OfBody", hashlib.md5(
                                      mbody.encode()).hexdigest())
                                  + _xml("Body", _esc(mbody))
                                  + attr_xml))
            return 200, _xml("ReceiveMessageResponse", _xml(
                "ReceiveMessageResult", "".join(parts))).encode()
        if action == "DeleteMessage":
            rh = params.get("ReceiptHandle", "")
            if self.inflight.pop(rh, None) is None:
                return 400, _xml("ErrorResponse", _xml("Error", _xml(
                    "Code", "ReceiptHandleIsInvalid"))).encode()
            return 200, _xml("DeleteMessageResponse", "").encode()
        return 400, _xml("ErrorResponse", _xml("Error", _xml(
            "Code", "InvalidAction"))).encode()

    def requeue_inflight(self) -> int:
        """Visibility timeout expiry: all in-flight messages return to
        their queues (front, preserving id order)."""
        n = 0
        for rh, (queue, msg) in sorted(self.inflight.items()):
            self.queues[queue].append(msg)
            n += 1
        self.inflight.clear()
        return n

    def transport(self, url: str, method: str,
                  headers: dict[str, str], body: bytes):
        return self.handle(url, method, headers, body)


# -------------------------------------------------------------- client


class SqsClient:
    """Query-protocol client; every call is SigV4-signed. `amz_date`
    ticks forward deterministically per request."""

    def __init__(self, transport, queue_url: str, *, access_key: str,
                 secret_key: str, region: str = "us-east-1"):
        self.transport = transport
        self.queue_url = queue_url
        self.access_key, self.secret_key = access_key, secret_key
        self.region = region
        self._seq = 0

    def _call(self, params: dict[str, str]) -> ET.Element:
        self._seq += 1
        body = urllib.parse.urlencode(params).encode()
        headers = sigv4_sign(
            "POST", self.queue_url,
            {"content-type":
             "application/x-www-form-urlencoded; charset=utf-8"},
            body, access_key=self.access_key,
            secret_key=self.secret_key, region=self.region,
            amz_date=f"20260101T{self._seq % 86400:06d}Z")
        status, resp = self.transport(self.queue_url, "POST", headers,
                                      body)
        root = ET.fromstring(resp.decode())
        if status != 200:
            code = root.findtext(".//Code") or "Unknown"
            raise SqsError(f"{status} {code}")
        return root

    def send_message(self, body: str,
                     attributes: dict[str, str] | None = None) -> str:
        params = {"Action": "SendMessage", "MessageBody": body}
        for i, (k, v) in enumerate(sorted(
                (attributes or {}).items()), start=1):
            params[f"MessageAttribute.{i}.Name"] = k
            params[f"MessageAttribute.{i}.Value.StringValue"] = v
            params[f"MessageAttribute.{i}.Value.DataType"] = "String"
        return self._call(params).findtext(".//MessageId")

    def receive_messages(self, *, max_messages: int = 10) -> list[dict]:
        root = self._call({"Action": "ReceiveMessage",
                           "MaxNumberOfMessages": str(max_messages)})
        out = []
        for msg in root.iter("Message"):
            attrs = {ma.findtext("Name"):
                     ma.findtext("Value/StringValue")
                     for ma in msg.iter("MessageAttribute")}
            out.append({"message_id": msg.findtext("MessageId"),
                        "receipt_handle": msg.findtext("ReceiptHandle"),
                        "body": msg.findtext("Body") or "",
                        "attributes": attrs})
        return out

    def delete_message(self, receipt_handle: str) -> None:
        self._call({"Action": "DeleteMessage",
                    "ReceiptHandle": receipt_handle})


# -------------------------------------------------------- spool bridge


class GetSQSSource(Spool):
    """GetSQS drain loop → parquet spool: receive up to
    `max_messages` per call, land them, then delete (the reference's
    auto-delete-after-emit contract — at-least-once: a crash between
    land and delete re-delivers)."""

    def __init__(self, spool_dir: str):
        super().__init__(spool_dir, "msg_seq", "msg_seq")

    def drain(self, client: SqsClient, *, max_messages: int = 10,
              auto_delete: bool = True) -> int:
        import pyarrow as pa

        landed = 0
        while True:
            msgs = client.receive_messages(max_messages=max_messages)
            if not msgs:
                return landed
            landed += self.land({
                "message_id": pa.array(
                    [m["message_id"] for m in msgs], pa.string()),
                "receipt_handle": pa.array(
                    [m["receipt_handle"] for m in msgs], pa.string()),
                "body": pa.array([m["body"] for m in msgs],
                                 pa.string()),
                "attributes": pa.array(
                    [sorted(m["attributes"].items()) for m in msgs],
                    pa.map_(pa.string(), pa.string())),
            })
            if auto_delete:
                for m in msgs:
                    client.delete_message(m["receipt_handle"])
