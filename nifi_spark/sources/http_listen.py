"""ListenHTTP / HandleHttpRequest analog — an HTTP/1.1 receiver
draining POSTed payloads to parquet spool.

NiFi ancestors: ListenHTTP (standard/servlets/ListenHTTPServlet.java —
POST /contentListener; Content-Types application/flowfile-v1/v2/v3
unpack to multiple FlowFiles, anything else lands raw; 200 on accept,
405 elsewhere) and HandleHttpRequest.java:96-105,521-585 (attribute
surface: method, request URI, query string, plus one attribute per
header under ``http.headers.*``).

The parser implements the HTTP/1.1 server subset a landing endpoint
needs: request line + headers, bodies by Content-Length or chunked
transfer-encoding (trailer-tolerant), keep-alive with Connection: close
honoring, 100-continue expectation acks, 413 over max_body, 405 for
non-POST. Transport = injectable (read(n) bytes, write(bytes)) like
every bridge here. Landed rows: method/uri/query/content_type, the
header map, body BINARY; flowfile-v* POSTs compose with
operators.flowfile_pack.unpack_flowfiles downstream — exactly the
servlet's unpackager split, but as a distributed scan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from nifi_spark.spool import Spool

_SPOOL_SCHEMA = ("batch_id bigint, msg_idx bigint, method string, "
                 "uri string, query_string string, "
                 "headers map<string,string>, content_type string, "
                 "body binary")

FLOWFILE_V3 = "application/flowfile-v3"


class HttpParseError(ValueError):
    pass


@dataclass
class HttpRequest:
    method: str
    uri: str
    query_string: str
    headers: dict[str, str]
    body: bytes

    @property
    def content_type(self) -> str:
        return self.headers.get("content-type", "")


class _LineReader:
    """read(n) adapter with buffered CRLF line reads."""

    def __init__(self, read):
        self._read = read
        self._buf = bytearray()

    def line(self) -> bytes:
        while b"\r\n" not in self._buf:
            chunk = self._read(4096)
            if not chunk:
                out = bytes(self._buf)
                self._buf.clear()
                return out
            self._buf.extend(chunk)
        i = self._buf.index(b"\r\n")
        out = bytes(self._buf[:i])
        del self._buf[:i + 2]
        return out

    def exactly(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._read(65536)
            if not chunk:
                raise HttpParseError("connection closed mid-body")
            self._buf.extend(chunk)
        out = bytes(self._buf[:n])
        del self._buf[:n]
        return out


def _read_request(r: "_LineReader", write,
                  max_body: int) -> "HttpRequest | None | str":
    """Parse ONE request off the connection. Returns the HttpRequest,
    None at clean EOF, or the error status string already written
    (connection must then close). 100-continue acks are emitted here."""
    line = r.line()
    if not line:
        return None
    parts = line.decode("latin-1").split(" ")
    if len(parts) != 3 or not parts[2].startswith("HTTP/1."):
        _respond(write, "400 Bad Request", b"bad request line",
                 close=True)
        return "400"
    method, target, _version = parts
    headers: dict[str, str] = {}
    while True:
        h = r.line()
        if h == b"":
            break
        if b":" not in h:
            _respond(write, "400 Bad Request", b"bad header",
                     close=True)
            return "400"
        k, v = h.split(b":", 1)
        headers[k.decode("latin-1").strip().lower()] = \
            v.decode("latin-1").strip()
    if headers.get("expect", "").lower() == "100-continue":
        write(b"HTTP/1.1 100 Continue\r\n\r\n")
    body = b""
    if headers.get("transfer-encoding", "").lower() == "chunked":
        chunks = bytearray()
        while True:
            size_line = r.line().split(b";")[0].strip()
            size = int(size_line, 16)
            if size == 0:
                while r.line() != b"":   # trailers
                    pass
                break
            if len(chunks) + size > max_body:
                _respond(write, "413 Payload Too Large", close=True)
                return "413"
            chunks += r.exactly(size)
            r.exactly(2)                 # chunk CRLF
        body = bytes(chunks)
    elif "content-length" in headers:
        n = int(headers["content-length"])
        if n > max_body:
            _respond(write, "413 Payload Too Large", close=True)
            return "413"
        body = r.exactly(n)
    uri, _, query = target.partition("?")
    return HttpRequest(method.upper(), uri, query, headers, body)


def _respond(write, status: str, body: bytes = b"", *,
             close: bool = False,
             extra_headers: "dict[str, str] | None" = None) -> None:
    head = (f"HTTP/1.1 {status}\r\n"
            f"Content-Length: {len(body)}\r\n"
            + "".join(f"{k}: {v}\r\n"
                      for k, v in (extra_headers or {}).items())
            + ("Connection: close\r\n" if close else "")
            + "\r\n")
    write(head.encode() + body)


def serve_http(read, write, *, max_body: int = 64 * 1024 * 1024
               ) -> list[HttpRequest]:
    """Serve ONE connection (keep-alive loop) until close/EOF. POSTs
    are accepted (200) and returned; other methods get 405 and are not
    landed; an oversized body gets 413 and closes the connection."""
    r = _LineReader(read)
    accepted: list[HttpRequest] = []
    while True:
        req = _read_request(r, write, max_body)
        if req is None or isinstance(req, str):
            return accepted
        if req.method == "POST":
            accepted.append(req)
            _respond(write, "200 OK", b"Accepted")
        elif req.method == "HEAD":
            _respond(write, "200 OK")
        else:
            # the servlet is POST-only (ListenHTTPServlet doPost)
            _respond(write, "405 Method Not Allowed", b"POST only")
        if req.headers.get("connection", "").lower() == "close":
            return accepted


# -------------------- HandleHttpRequest / HandleHttpResponse pairing


class HttpContextMap:
    """StandardHttpContextMap analog: parks the response side of an
    accepted request under ``http.context.identifier`` until a
    HandleHttpResponse completes it. Deterministic counter ids; a full
    map refuses new requests with 503 exactly like the reference's
    max-outstanding-requests back-pressure."""

    def __init__(self, *, max_outstanding: int = 5000):
        self.max_outstanding = max_outstanding
        self._pending: dict[str, object] = {}
        self._next = 0
        self.completed: list[tuple[str, int]] = []

    def register(self, write) -> str | None:
        if len(self._pending) >= self.max_outstanding:
            return None
        self._next += 1
        cid = f"ctx-{self._next:08d}"
        self._pending[cid] = write
        return cid

    def complete(self, context_id: str, status_code: int,
                 body: bytes = b"",
                 headers: "dict[str, str] | None" = None) -> None:
        write = self._pending.pop(context_id)   # KeyError → failure
        _respond(write, f"{status_code} ", body,
                 extra_headers=headers, close=True)
        self.completed.append((context_id, status_code))

    def outstanding(self) -> int:
        return len(self._pending)


def handle_http_requests(read, write, context_map: HttpContextMap, *,
                         max_body: int = 64 * 1024 * 1024
                         ) -> list[dict]:
    """HandleHttpRequest.java:521-585 — accept requests WITHOUT
    responding; each is parked in the context map and returned with
    the reference attribute surface (``http.context.identifier``,
    method/uri/query plus ``http.headers.*``). A full context map
    answers 503 (back pressure)."""
    r = _LineReader(read)
    out: list[dict] = []
    while True:
        req = _read_request(r, write, max_body)
        if req is None or isinstance(req, str):
            return out
        cid = context_map.register(write)
        if cid is None:
            _respond(write, "503 Service Unavailable",
                     b"context map full", close=True)
            return out
        attrs = {"http.context.identifier": cid,
                 "http.method": req.method,
                 "http.request.uri": req.uri,
                 "http.query.string": req.query_string}
        for k, v in req.headers.items():
            attrs[f"http.headers.{k}"] = v
        attrs["content"] = req.body
        out.append(attrs)
        if req.headers.get("connection", "").lower() == "close":
            return out


def handle_http_response(rows: list[dict],
                         context_map: HttpContextMap, *,
                         status_code, body=None,
                         headers: "dict[str, str] | None" = None
                         ) -> list[tuple[dict, str]]:
    """HandleHttpResponse.java — look up each row's
    ``http.context.identifier`` and write status + content back to
    the requestor. Missing attribute, non-numeric status, or an
    unknown/expired id → failure; sent → success."""
    out: list[tuple[dict, str]] = []
    for row in rows:
        cid = row.get("http.context.identifier")
        if not cid:
            out.append((row, "failure"))
            continue
        sc = status_code(row) if callable(status_code) else status_code
        if not re.fullmatch(r"[0-9]+", str(sc)):
            out.append((row, "failure"))
            continue
        payload = body(row) if callable(body) else \
            (row.get("content", b"") if body is None else body)
        if isinstance(payload, str):
            payload = payload.encode()
        try:
            context_map.complete(cid, int(sc), payload,
                                 headers=headers)
        except KeyError:
            out.append((row, "failure"))
            continue
        out.append((row, "success"))
    return out


def requests_feed(data: bytes):
    """Scripted raw-bytes client for tests: a read(n) over the blob."""
    view = memoryview(data)
    pos = 0

    def read(n: int) -> bytes:
        nonlocal pos
        out = bytes(view[pos:pos + n])
        pos += len(out)
        return out

    return read


class ListenHTTPSource(Spool):
    """Drain-to-spool bridge (listen.py pattern): one served connection
    → one spool file of accepted POSTs."""

    schema = _SPOOL_SCHEMA

    def __init__(self, spool_dir: str, *,
                 max_body: int = 64 * 1024 * 1024):
        super().__init__(spool_dir)
        self.max_body = max_body

    def drain_connection(self, read, write) -> int:
        import pyarrow as pa

        reqs = serve_http(read, write, max_body=self.max_body)
        return self.land({
            "method": pa.array([q.method for q in reqs], pa.string()),
            "uri": pa.array([q.uri for q in reqs], pa.string()),
            "query_string": pa.array([q.query_string for q in reqs],
                                     pa.string()),
            "headers": pa.array([list(q.headers.items()) for q in reqs],
                                pa.map_(pa.string(), pa.string())),
            "content_type": pa.array([q.content_type for q in reqs],
                                     pa.string()),
            "body": pa.array([q.body for q in reqs], pa.binary()),
        })
