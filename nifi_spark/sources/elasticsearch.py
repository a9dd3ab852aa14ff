"""Elasticsearch HTTP connector family — FetchElasticsearchHttp /
PutElasticsearchHttp / QueryElasticsearchHttp / ScrollElasticsearchHttp
analogs over the public Elasticsearch HTTP API shapes (document GET,
the _bulk NDJSON endpoint, _search with query_string + from/size
paging, and the scroll protocol).

NiFi ancestors (nifi-elasticsearch-bundle):
- FetchElasticsearchHttp.java — GET /{index}/{type}/{id}, emits
  es.index/es.type attributes + filename=doc id; relationships
  success / not found / retry (5xx) / failure.
- PutElasticsearchHttp.java — POST /_bulk with action+source NDJSON
  pairs; per-item errors route individual docs to failure.
- QueryElasticsearchHttp.java — GET /{index}/_search with a Lucene
  query string, PAGE-SIZE paging via from/size, optional LIMIT, one
  FlowFile per hit.
- ScrollElasticsearchHttp.java — @Stateful: the latest _scroll_id is
  persisted after each page so the scroll RESUMES across runs; here
  that state lives in the same `KVState` ledger the other stateful
  sources use (scrollId key, tmp+replace commit).

The in-process `EsServer` keeps indices in memory and implements the
subset those four processors touch: doc GET with found/404, _bulk
index actions (per-item status, errors flag), query_string terms
(``field:value`` conjunctions with AND, ``*:*`` match-all), from/size
windows, `_source_include` projection, and REAL scroll cursors — an
opaque scroll_id pages through a snapshot of the hit list, exactly
the contract the reference's onTrigger loop needs.

Transport = injectable ``transport(url, method, body) -> (status,
response_bytes)``; tests wire it to `EsServer.handle`.
"""

from __future__ import annotations

import json
import re
import urllib.parse

from ..ledger import KVState
from ..spool import Spool


class EsError(IOError):
    pass


class EsRetryableError(EsError):
    """5xx — the reference routes these to `retry`."""


class EsNotFound(EsError):
    """404 on a fetch — the reference routes to `not found`."""


# -------------------------------------------------------------- server


class EsServer:
    """indices: index -> type -> id -> source doc (insertion-ordered,
    which stands in for relevance order in _search)."""

    def __init__(self):
        self.indices: dict[str, dict[str, dict[str, dict]]] = {}
        self._scrolls: dict[str, list[dict]] = {}
        self._next_scroll = 100
        self.requests_served = 0
        self.fail_next = 0                # inject 5xx for retry tests

    def _hits(self, index: str, doc_type: "str | None",
              q: str) -> list[dict]:
        out = []
        for typ, docs in self.indices.get(index, {}).items():
            if doc_type and typ != doc_type:
                continue
            for did, src in docs.items():
                if _match_query_string(src, q):
                    out.append({"_index": index, "_type": typ,
                                "_id": did, "_source": src})
        return out

    def handle(self, url: str, method: str,
               body: bytes) -> tuple[int, bytes]:
        self.requests_served += 1
        if self.fail_next > 0:
            self.fail_next -= 1
            return 503, b'{"error": "injected unavailability"}'
        parsed = urllib.parse.urlsplit(url)
        parts = [p for p in parsed.path.split("/") if p]
        params = dict(urllib.parse.parse_qsl(parsed.query))
        if parts == ["_bulk"] and method == "POST":
            return self._bulk(body)
        if parts == ["_search", "scroll"] and method == "POST":
            return self._scroll_next(json.loads(body.decode()))
        if parts and parts[-1] == "_search":
            index = parts[0]
            doc_type = parts[1] if len(parts) == 3 else None
            return self._search(index, doc_type, params)
        if len(parts) == 3 and method == "GET":
            index, typ, did = parts
            src = self.indices.get(index, {}).get(typ, {}).get(did)
            if src is None:
                return 404, json.dumps(
                    {"_index": index, "_type": typ, "_id": did,
                     "found": False}).encode()
            inc = params.get("_source_include")
            if inc:
                keep = {f.strip() for f in inc.split(",")}
                src = {k: v for k, v in src.items() if k in keep}
            return 200, json.dumps(
                {"_index": index, "_type": typ, "_id": did,
                 "found": True, "_source": src}).encode()
        return 400, b'{"error": "unsupported endpoint"}'

    def _bulk(self, body: bytes) -> tuple[int, bytes]:
        lines = [ln for ln in body.decode().split("\n") if ln]
        items, errors = [], False
        i = 0
        while i < len(lines):
            action = json.loads(lines[i])
            op = next(iter(action))
            if op != "index":
                items.append({op: {"status": 400, "error":
                                   "unsupported action"}})
                errors = True
                i += 1
                continue
            meta = action[op]
            src = json.loads(lines[i + 1])
            i += 2
            index, typ = meta.get("_index"), meta.get("_type", "_doc")
            did = meta.get("_id")
            if not index or not did:
                items.append({op: {"status": 400,
                                   "error": "missing _index/_id"}})
                errors = True
                continue
            self.indices.setdefault(index, {}).setdefault(
                typ, {})[did] = src
            items.append({op: {"_index": index, "_type": typ,
                               "_id": did, "status": 201}})
        return 200, json.dumps({"errors": errors,
                                "items": items}).encode()

    def _search(self, index: str, doc_type: "str | None",
                params: dict) -> tuple[int, bytes]:
        hits = self._hits(index, doc_type, params.get("q", "*:*"))
        total = len(hits)
        if "scroll" in params:
            size = int(params.get("size", "20"))
            page, rest = hits[:size], hits[size:]
            sid = f"scroll-{self._next_scroll}"
            self._next_scroll += 1
            # the page size is baked into the original search in real
            # ES; the cursor carries it alongside the snapshot
            self._scrolls[sid] = {"rest": rest, "size": size}
            return 200, json.dumps(
                {"_scroll_id": sid,
                 "hits": {"total": total, "hits": page}}).encode()
        frm = int(params.get("from", "0"))
        size = int(params.get("size", "20"))
        page = hits[frm:frm + size]
        inc = params.get("_source_include")
        if inc:
            keep = {f.strip() for f in inc.split(",")}
            page = [{**h, "_source": {k: v for k, v in
                                      h["_source"].items()
                                      if k in keep}} for h in page]
        return 200, json.dumps(
            {"hits": {"total": total, "hits": page}}).encode()

    def _scroll_next(self, req: dict) -> tuple[int, bytes]:
        sid = req.get("scroll_id", "")
        cur = self._scrolls.get(sid)
        if cur is None:
            return 404, json.dumps(
                {"error": "No search context found"}).encode()
        size = cur["size"]
        page, rest = cur["rest"][:size], cur["rest"][size:]
        if rest:
            self._scrolls[sid] = {"rest": rest, "size": size}
        else:
            del self._scrolls[sid]
        return 200, json.dumps(
            {"_scroll_id": sid,
             "hits": {"total": len(page) + len(rest),
                      "hits": page}}).encode()

    def transport(self, url: str, method: str, body: bytes):
        return self.handle(url, method, body)


def _match_query_string(src: dict, q: str) -> bool:
    q = q.strip()
    if q in ("*:*", "", "*"):
        return True
    for clause in re.split(r"\s+AND\s+", q):
        if ":" not in clause:
            raise EsError(f"unsupported query clause {clause!r}")
        field, val = clause.split(":", 1)
        val = val.strip().strip('"')
        if str(src.get(field.strip())) != val:
            return False
    return True


# -------------------------------------------------------------- client


class EsClient:
    def __init__(self, transport, base_url: str):
        self.transport = transport
        self.base = base_url.rstrip("/")

    def _call(self, path: str, *, method: str = "GET",
              params: dict | None = None,
              body: bytes = b"") -> dict:
        url = f"{self.base}{path}"
        if params:
            url += "?" + urllib.parse.urlencode(params)
        status, resp = self.transport(url, method, body)
        if status >= 500:
            raise EsRetryableError(f"{status}: {resp.decode()}")
        doc = json.loads(resp.decode())
        if status == 404:
            raise EsNotFound(json.dumps(doc))
        if status != 200:
            raise EsError(f"{status}: {resp.decode()}")
        return doc

    def fetch(self, index: str, doc_type: str, doc_id: str, *,
              fields: "list[str] | None" = None) -> dict:
        """FetchElasticsearchHttp: returns the reference's attribute
        surface + the source document. Raises EsNotFound (the `not
        found` relationship) / EsRetryableError (`retry`)."""
        params = {}
        if fields:
            params["_source_include"] = ",".join(fields)
        doc = self._call(f"/{index}/{doc_type}/{doc_id}",
                         params=params or None)
        return {"filename": doc["_id"], "es.index": doc["_index"],
                "es.type": doc["_type"], "source": doc["_source"]}

    def bulk_index(self, docs: "list[tuple[str, str, str, dict]]"
                   ) -> dict:
        """PutElasticsearchHttp: docs = (index, type, id, source).
        Returns {"indexed": n_ok, "failed": [(id, error)...]} — the
        reference's per-item success/failure routing."""
        lines = []
        for index, typ, did, src in docs:
            lines.append(json.dumps({"index": {
                "_index": index, "_type": typ, "_id": did}}))
            lines.append(json.dumps(src))
        resp = self._call("/_bulk", method="POST",
                          body=("\n".join(lines) + "\n").encode())
        ok, failed = 0, []
        for item in resp["items"]:
            st = item["index"]
            if st["status"] in (200, 201):
                ok += 1
            else:
                failed.append((st.get("_id"), st.get("error")))
        return {"indexed": ok, "failed": failed}

    def search(self, index: str, *, doc_type: "str | None" = None,
               q: str = "*:*", frm: int = 0, size: int = 20,
               fields: "list[str] | None" = None,
               scroll: "str | None" = None) -> dict:
        path = (f"/{index}/{doc_type}/_search" if doc_type
                else f"/{index}/_search")
        params: dict = {"q": q, "size": size}
        if scroll:
            params["scroll"] = scroll
        else:
            params["from"] = frm
        if fields:
            params["_source_include"] = ",".join(fields)
        return self._call(path, params=params)

    def scroll(self, scroll_id: str) -> dict:
        return self._call("/_search/scroll", method="POST",
                          body=json.dumps(
                              {"scroll": "1m",
                               "scroll_id": scroll_id}).encode())


# -------------------------------------------------------- spool bridges


class _SpoolBase(Spool):
    def __init__(self, spool_dir: str):
        super().__init__(spool_dir, "hit_seq", "hit_seq")

    def _write(self, rows: list[dict]) -> None:
        import pyarrow as pa

        self.land({
            "es_index": pa.array([r["_index"] for r in rows],
                                 pa.string()),
            "es_type": pa.array([r["_type"] for r in rows],
                                pa.string()),
            "es_id": pa.array([r["_id"] for r in rows], pa.string()),
            "payload": pa.array(
                [json.dumps(r["_source"], sort_keys=True,
                            separators=(",", ":")) for r in rows],
                pa.string()),
        })


class QueryEsSource(_SpoolBase):
    """QueryElasticsearchHttp: from/size pages until exhausted or
    `limit`; one spool file per page (the reference emits one FlowFile
    per hit; hit identity is preserved row-per-hit)."""

    def drain(self, client: EsClient, index: str, *, q: str = "*:*",
              doc_type: "str | None" = None, page_size: int = 20,
              limit: "int | None" = None,
              fields: "list[str] | None" = None) -> int:
        landed, frm = 0, 0
        while True:
            size = page_size
            if limit is not None and limit - landed < size:
                size = limit - landed
            if size <= 0:
                return landed
            resp = client.search(index, doc_type=doc_type, q=q,
                                 frm=frm, size=size, fields=fields)
            hits = resp["hits"]["hits"]
            if not hits:
                return landed
            self._write(hits)
            landed += len(hits)
            frm += page_size
            if len(hits) < size:
                return landed


class ScrollEsSource(_SpoolBase):
    """ScrollElasticsearchHttp: @Stateful scroll — the scroll_id is
    committed to KVState after each landed page, so a crashed run
    RESUMES its scroll instead of restarting the query (the
    reference's scrollId state key, ScrollElasticsearchHttp.java:76).
    `finished` is latched once the scroll drains; further drains are
    no-ops until reset() (the reference never re-runs a finished
    scroll either)."""

    def __init__(self, spool_dir: str, state: KVState,
                 key: str = "scroll_es"):
        super().__init__(spool_dir)
        self.state = state
        self.key = key

    def reset(self) -> None:
        self.state.put(self.key, {})

    def drain(self, client: EsClient, index: str, *, q: str = "*:*",
              page_size: int = 20) -> int:
        st = self.state.get(self.key)
        if st.get("finished"):
            return 0
        landed = 0
        sid = st.get("scrollId")
        if sid is None:
            resp = client.search(index, q=q, size=page_size,
                                 scroll="1m")
            sid = resp["_scroll_id"]
            hits = resp["hits"]["hits"]
            if hits:
                self._write(hits)
                landed += len(hits)
            self.state.put(self.key, {"scrollId": sid})
        while True:
            try:
                resp = client.scroll(sid)
            except EsNotFound:
                break                      # context drained earlier
            hits = resp["hits"]["hits"]
            if not hits:
                break
            self._write(hits)
            landed += len(hits)
            sid = resp["_scroll_id"]
            self.state.put(self.key, {"scrollId": sid})
        self.state.put(self.key, {"finished": True})
        return landed
