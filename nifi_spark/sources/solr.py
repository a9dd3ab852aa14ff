"""GetSolr analog — Solr's JSON select API with cursorMark deep
paging and the reference's incremental date-window extraction.

NiFi ancestor: nifi-solr-bundle GetSolr.java — an INCREMENTAL source:
it remembers the last end-date it fetched (StateManager), queries
``date_field:[last_end TO NOW]`` sorted ascending by the date field
(+ id tiebreak), pages with cursorMark (Solr's stateless deep-paging
cursor: sort-key resume token, no server session), and advances the
stored watermark to the newest date seen. That is exactly this
repo's watermark-ledger discipline, so the analog rides `KVState`
with the same tmp+replace commit.

The wire shape is Solr's public HTTP API: GET
``/solr/<core>/select?q=...&fq=...&sort=...&rows=...&cursorMark=...
&wt=json`` returning ``{"response": {"numFound": N, "docs": [...]},
"nextCursorMark": "..."}``. The in-process `SolrServer` implements
the parts the connector touches: q=*:* or field:value, fq range
filters ``field:[A TO B}`` (inclusive-exclusive brackets as GetSolr
emits them), multi-key sort, rows, and REAL cursorMark semantics —
the mark encodes the last sort key, a page re-queries strictly after
it, and the final page returns the same mark it was given (the
documented termination condition).

Transport = injectable ``transport(url) -> (status, body_bytes)``;
tests wire it straight to `SolrServer.handle`.
"""

from __future__ import annotations

import json
import re
import urllib.parse

from ..ledger import KVState
from ..spool import Spool


class SolrError(IOError):
    pass


_RANGE_RE = re.compile(
    r"^(?P<field>[\w.]+):(?P<lb>[\[{])(?P<lo>[^ ]+) TO "
    r"(?P<hi>[^\]}]+)(?P<rb>[\]}])$")


def _coerce(tok: str):
    if tok == "*":
        return None
    try:
        return int(tok)
    except ValueError:
        try:
            return float(tok)
        except ValueError:
            return tok


class SolrServer:
    """In-memory core speaking the select API with real cursorMark
    paging. Docs are plain dicts; every doc must carry the unique-key
    field (`id`)."""

    def __init__(self, core: str = "collection1"):
        self.core = core
        self.docs: list[dict] = []
        self.selects_served = 0

    def add(self, docs: list[dict]) -> None:
        for d in docs:
            if "id" not in d:
                raise SolrError("document missing unique key 'id'")
        self.docs.extend(docs)

    # -- query evaluation ------------------------------------------
    def _match_q(self, doc: dict, q: str) -> bool:
        if q in ("*:*", ""):
            return True
        rm = _RANGE_RE.match(q)
        if rm:
            return self._match_range(doc, rm)
        if ":" in q:
            field, val = q.split(":", 1)
            return str(doc.get(field)) == val.strip('"')
        raise SolrError(f"unsupported q {q!r}")

    def _match_range(self, doc: dict, rm) -> bool:
        v = doc.get(rm.group("field"))
        if v is None:
            return False
        lo, hi = _coerce(rm.group("lo")), _coerce(rm.group("hi"))
        if lo is not None:
            if rm.group("lb") == "[":
                if not v >= lo:
                    return False
            elif not v > lo:
                return False
        if hi is not None:
            if rm.group("rb") == "]":
                if not v <= hi:
                    return False
            elif not v < hi:
                return False
        return True

    def handle(self, url: str, method: str = "GET",
               body: bytes = b"") -> tuple[int, bytes]:
        parsed = urllib.parse.urlsplit(url)
        # PutSolrContentStream's default Content Stream Path
        # (PutSolrContentStream.java:73): POST /update/json/docs with
        # one JSON doc or a JSON array of docs.
        if parsed.path.endswith(f"/{self.core}/update/json/docs"):
            if method != "POST":
                return 405, b'{"error": "POST required"}'
            try:
                payload = json.loads(body.decode())
            except ValueError:
                return 400, json.dumps(
                    {"error": {"msg": "invalid JSON", "code": 400}}
                ).encode()
            docs = payload if isinstance(payload, list) else [payload]
            try:
                self.add(docs)
            except SolrError as exc:
                return 400, json.dumps(
                    {"error": {"msg": str(exc), "code": 400}}).encode()
            return 200, json.dumps(
                {"responseHeader": {"status": 0}}).encode()
        if not parsed.path.endswith(f"/{self.core}/select"):
            return 404, b'{"error": "unknown core"}'
        p = dict(urllib.parse.parse_qsl(parsed.query))
        self.selects_served += 1
        try:
            docs = [d for d in self.docs
                    if self._match_q(d, p.get("q", "*:*"))]
            for fq in urllib.parse.parse_qs(parsed.query).get("fq", []):
                rm = _RANGE_RE.match(fq)
                if not rm:
                    raise SolrError(f"unsupported fq {fq!r}")
                docs = [d for d in docs if self._match_range(d, rm)]
            sort_spec = [(f.strip().split()[0],
                          f.strip().split()[1].lower() == "desc")
                         for f in p.get("sort", "id asc").split(",")]
            for field, desc in reversed(sort_spec):
                docs.sort(key=lambda d: d.get(field), reverse=desc)
            rows = int(p.get("rows", "10"))
            num_found = len(docs)
            cursor = p.get("cursorMark")
            if cursor is not None:
                if cursor != "*":
                    last = json.loads(cursor)
                    key = lambda d: [d.get(f) for f, _ in sort_spec]  # noqa: E731
                    docs = [d for d in docs if key(d) > last]
                page = docs[:rows]
                if page:
                    nxt = json.dumps(
                        [page[-1].get(f) for f, _ in sort_spec])
                else:
                    nxt = cursor               # termination condition
                body = {"response": {"numFound": num_found,
                                     "docs": page},
                        "nextCursorMark": nxt}
            else:
                start = int(p.get("start", "0"))
                body = {"response": {"numFound": num_found,
                                     "docs": docs[start:start + rows]}}
            return 200, json.dumps(body).encode()
        except SolrError as exc:
            return 400, json.dumps(
                {"error": {"msg": str(exc), "code": 400}}).encode()

    def transport(self, url: str, method: str = "GET",
                  body: bytes = b"") -> tuple[int, bytes]:
        return self.handle(url, method, body)


class SolrClient:
    def __init__(self, transport, base_url: str, core: str):
        self.transport = transport
        self.base = base_url.rstrip("/")
        self.core = core

    def select(self, **params) -> dict:
        fq = params.pop("fq", None)
        qs = urllib.parse.urlencode(params)
        if fq:
            for f in ([fq] if isinstance(fq, str) else fq):
                qs += "&fq=" + urllib.parse.quote(f)
        status, body = self.transport(
            f"{self.base}/{self.core}/select?{qs}")
        doc = json.loads(body.decode())
        if status != 200:
            raise SolrError(f"{status}: {doc.get('error')}")
        return doc

    def cursor_all(self, *, q: str = "*:*", fq=None,
                   sort: str = "id asc", rows: int = 10) -> list[dict]:
        """cursorMark loop: page until the returned mark equals the
        one sent (the documented done condition)."""
        mark = "*"
        out: list[dict] = []
        while True:
            kw = {"q": q, "sort": sort, "rows": rows,
                  "cursorMark": mark, "wt": "json"}
            if fq:
                kw["fq"] = fq
            resp = self.select(**kw)
            out.extend(resp["response"]["docs"])
            nxt = resp["nextCursorMark"]
            if nxt == mark:
                return out
            mark = nxt


def put_solr(transport, base_url: str, core: str,
             docs: list[dict]) -> int:
    """PutSolrContentStream analog (nifi-solr-bundle
    PutSolrContentStream.java, default Content Stream Path
    /update/json/docs): POST the documents as one JSON array; raises
    SolrError on a non-200 (the reference's failure/connection_failure
    routing is the caller's branch)."""
    url = f"{base_url.rstrip('/')}/{core}/update/json/docs"
    status, body = transport(url, "POST", json.dumps(docs).encode())
    if status != 200:
        raise SolrError(f"{status}: {body.decode()}")
    return len(docs)


class GetSolrSource(Spool):
    """GetSolr incremental drain: remembers the last end of the date
    window in KVState, each drain fetches ``date_field:[wm TO now]``
    ascending via cursorMark, lands one spool file, and commits the
    new watermark AFTER the spool rename (crash between them
    re-fetches — at-least-once, the reference's contract). The lower
    bound is EXCLUSIVE on re-fetch ({wm TO ...]) so the boundary doc
    isn't duplicated."""

    def __init__(self, spool_dir: str, state: KVState,
                 key: str = "get_solr"):
        super().__init__(spool_dir, "doc_seq", "doc_seq")
        self.state = state
        self.key = key

    def drain(self, client: SolrClient, *, date_field: str,
              now, rows: int = 10, q: str = "*:*",
              fields: "list[str] | None" = None) -> int:
        """`q`/`fields`/`rows` mirror GetSolr's SOLR_QUERY /
        RETURN_FIELDS / BATCH_SIZE properties (GetSolr.java:199-218);
        the date window is the reference's ``{last TO curr]`` filter
        query exactly. The sort is pinned to ``date asc, id asc`` —
        the watermark needs the newest date LAST (the reference sorts
        however SORT_CLAUSE says and takes the wall clock as the new
        watermark instead; a deterministic engine can't do that).
        `fields` must include the date field (needed for the
        watermark) and id (the cursor tiebreak)."""
        import pyarrow as pa

        if fields and (date_field not in fields or "id" not in fields):
            raise SolrError("fields must include the date field and id")
        st = self.state.get(self.key)
        wm = st.get("watermark")
        lb = f"{{{wm}" if wm is not None else "[*"
        fq = f"{date_field}:{lb} TO {now}]"
        docs = client.cursor_all(q=q, sort=f"{date_field} asc, id asc",
                                 fq=fq, rows=rows)
        if fields:
            keep = set(fields)
            docs = [{k: v for k, v in d.items() if k in keep}
                    for d in docs]
        if not docs:
            return 0
        self.land({
            "core": pa.array([client.core] * len(docs), pa.string()),
            "payload": pa.array(
                [json.dumps(d, sort_keys=True, separators=(",", ":"))
                 for d in docs], pa.string()),
            date_field: pa.array([d[date_field] for d in docs]),
        })
        self.state.put(self.key,
                       {"watermark": docs[-1][date_field]})
        return len(docs)
