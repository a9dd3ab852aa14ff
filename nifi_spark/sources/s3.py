"""ListS3 / FetchS3Object / PutS3Object / DeleteS3Object analogs —
the S3 REST API over the same SigV4 implementation as the SQS
connector (sqs.sigv4_sign/verify, service "s3").

NiFi ancestors (nifi-aws-bundle s3/):
- ListS3.java — @Stateful(CLUSTER): after each listing the newest
  key timestamp is stored PLUS the set of keys AT that timestamp
  (ListS3.java:119-168), so a key landing in the same millisecond as
  the watermark is not re-emitted but a new one is. Emits
  filename/s3.bucket/s3.etag/s3.lastModified/s3.length/s3.storeClass
  attributes per object (ListS3.java:216-231).
- FetchS3Object.java — GET object, content becomes the FlowFile.
- PutS3Object / DeleteS3Object — the write half.

The in-process `S3Server` stores buckets in memory, VERIFIES the
SigV4 signature on every request (wrong secrets get 403
SignatureDoesNotMatch), and implements ListObjectsV2 faithfully:
lexicographic key order, prefix filtering, max-keys pages with
NextContinuationToken, KeyCount/IsTruncated. Object writes tick a
deterministic last-modified clock (tests need stable watermarks; the
wall clock is production's concern).

Transport = ``transport(url, method, headers, body) -> (status,
resp_headers, resp_body)`` — S3 carries metadata (ETag,
Last-Modified, Content-Length) in RESPONSE HEADERS, unlike the
XML-body Query protocols.
"""

from __future__ import annotations

import hashlib
import urllib.parse
from xml.etree import ElementTree as ET

from ..ledger import KVState
from ..spool import Spool
from .sqs import SqsError, sigv4_sign, sigv4_verify


class S3Error(IOError):
    pass


def _iso(ms: int) -> str:
    import datetime
    dt = datetime.datetime.fromtimestamp(ms / 1000.0,
                                         datetime.timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


class S3Server:
    def __init__(self, *, secrets: dict[str, str] | None = None,
                 region: str = "us-east-1",
                 clock_epoch_ms: int = 1_700_000_000_000):
        self.secrets = secrets or {}
        self.region = region
        # bucket -> key -> (body, last_modified_ms, etag)
        self.buckets: dict[str, dict[str, tuple]] = {}
        self._clock = clock_epoch_ms
        self.rejected = 0
        self.requests_served = 0

    def create_bucket(self, name: str) -> None:
        self.buckets.setdefault(name, {})

    def put_direct(self, bucket: str, key: str, body: bytes, *,
                   last_modified_ms: "int | None" = None) -> None:
        """Server-side seeding (tests); ticks the clock when no
        explicit timestamp is given."""
        if last_modified_ms is None:
            self._clock += 1
            last_modified_ms = self._clock
        self.buckets[bucket][key] = (
            bytes(body), last_modified_ms,
            hashlib.md5(body).hexdigest())

    def handle(self, url: str, method: str, headers: dict[str, str],
               body: bytes):
        self.requests_served += 1
        try:
            sigv4_verify(method, url, headers, body,
                         secrets=self.secrets)
        except SqsError as exc:
            self.rejected += 1
            code = ("SignatureDoesNotMatch" if "Signature" in str(exc)
                    else str(exc))
            return 403, {}, (f"<Error><Code>{code}</Code></Error>"
                             ).encode()
        parsed = urllib.parse.urlsplit(url)
        parts = parsed.path.lstrip("/").split("/", 1)
        bucket = parts[0]
        key = parts[1] if len(parts) > 1 else ""
        params = dict(urllib.parse.parse_qsl(parsed.query))
        if bucket not in self.buckets:
            return 404, {}, b"<Error><Code>NoSuchBucket</Code></Error>"
        objs = self.buckets[bucket]
        if method == "GET" and not key:
            if params.get("list-type") != "2":
                return 400, {}, b"<Error><Code>InvalidRequest</Code></Error>"
            return self._list_v2(bucket, objs, params)
        if method == "GET":
            if key not in objs:
                return 404, {}, b"<Error><Code>NoSuchKey</Code></Error>"
            data, lm, etag = objs[key]
            return 200, {"etag": f'"{etag}"',
                         "last-modified-ms": str(lm),
                         "content-length": str(len(data))}, data
        if method == "PUT":
            self._clock += 1
            etag = hashlib.md5(body).hexdigest()
            objs[key] = (bytes(body), self._clock, etag)
            return 200, {"etag": f'"{etag}"'}, b""
        if method == "DELETE":
            objs.pop(key, None)            # S3 delete is idempotent
            return 204, {}, b""
        return 405, {}, b"<Error><Code>MethodNotAllowed</Code></Error>"

    def _list_v2(self, bucket: str, objs: dict, params: dict):
        prefix = params.get("prefix", "")
        max_keys = int(params.get("max-keys", "1000"))
        after = params.get("continuation-token", "")
        keys = sorted(k for k in objs if k.startswith(prefix)
                      and k > after)
        page, truncated = keys[:max_keys], len(keys) > max_keys
        contents = []
        for k in page:
            data, lm, etag = objs[k]
            contents.append(
                f"<Contents><Key>{k}</Key>"
                f"<LastModified>{_iso(lm)}</LastModified>"
                f"<LastModifiedMillis>{lm}</LastModifiedMillis>"
                f'<ETag>"{etag}"</ETag><Size>{len(data)}</Size>'
                f"<StorageClass>STANDARD</StorageClass></Contents>")
        nct = (f"<NextContinuationToken>{page[-1]}"
               f"</NextContinuationToken>" if truncated else "")
        xml = (f"<ListBucketResult><Name>{bucket}</Name>"
               f"<KeyCount>{len(page)}</KeyCount>"
               f"<IsTruncated>{'true' if truncated else 'false'}"
               f"</IsTruncated>{nct}{''.join(contents)}"
               f"</ListBucketResult>")
        return 200, {}, xml.encode()

    def transport(self, url: str, method: str,
                  headers: dict[str, str], body: bytes):
        return self.handle(url, method, headers, body)


class S3Client:
    def __init__(self, transport, *, endpoint: str, access_key: str,
                 secret_key: str, region: str = "us-east-1"):
        self.transport = transport
        self.endpoint = endpoint.rstrip("/")
        self.access_key, self.secret_key = access_key, secret_key
        self.region = region
        self._seq = 0

    def _call(self, path: str, method: str = "GET", *,
              params: dict | None = None, body: bytes = b""):
        self._seq += 1
        url = f"{self.endpoint}{path}"
        if params:
            url += "?" + urllib.parse.urlencode(params)
        headers = sigv4_sign(
            method, url, {}, body, access_key=self.access_key,
            secret_key=self.secret_key, region=self.region,
            service="s3", amz_date=f"20260101T{self._seq % 86400:06d}Z")
        status, rh, resp = self.transport(url, method, headers, body)
        if status == 403:
            raise S3Error("403 " + (
                ET.fromstring(resp.decode()).findtext("Code")
                or "Forbidden"))
        return status, rh, resp

    def list_objects_v2(self, bucket: str, *, prefix: str = "",
                        max_keys: int = 1000) -> list[dict]:
        """Auto-paging listing: one dict per object with the ListS3
        attribute fields."""
        out: list[dict] = []
        token = None
        while True:
            params = {"list-type": "2", "max-keys": max_keys}
            if prefix:
                params["prefix"] = prefix
            if token:
                params["continuation-token"] = token
            status, _h, resp = self._call(f"/{bucket}", params=params)
            if status != 200:
                raise S3Error(f"list failed: {status} {resp.decode()}")
            root = ET.fromstring(resp.decode())
            for c in root.iter("Contents"):
                out.append({
                    "filename": c.findtext("Key"),
                    "s3.bucket": bucket,
                    "s3.etag": (c.findtext("ETag") or "").strip('"'),
                    "s3.lastModified": int(
                        c.findtext("LastModifiedMillis")),
                    "s3.length": int(c.findtext("Size")),
                    "s3.storeClass": c.findtext("StorageClass"),
                })
            if root.findtext("IsTruncated") != "true":
                return out
            token = root.findtext("NextContinuationToken")

    def get_object(self, bucket: str, key: str) -> dict:
        """FetchS3Object: body + the s3.* attribute surface."""
        status, h, resp = self._call(f"/{bucket}/{key}")
        if status == 404:
            raise S3Error(f"NoSuchKey {bucket}/{key}")
        if status != 200:
            raise S3Error(f"get failed: {status}")
        return {"filename": key, "s3.bucket": bucket,
                "s3.etag": h["etag"].strip('"'),
                "s3.lastModified": int(h["last-modified-ms"]),
                "content": resp}

    def put_object(self, bucket: str, key: str, body: bytes) -> str:
        status, h, _ = self._call(f"/{bucket}/{key}", "PUT", body=body)
        if status != 200:
            raise S3Error(f"put failed: {status}")
        return h["etag"].strip('"')

    def delete_object(self, bucket: str, key: str) -> None:
        status, _h, _ = self._call(f"/{bucket}/{key}", "DELETE")
        if status not in (200, 204):
            raise S3Error(f"delete failed: {status}")


class ListS3Source(Spool):
    """ListS3's exact dedup contract: the newest lastModified becomes
    the watermark AND the keys at that exact timestamp are remembered
    (ListS3.java:156-168) — a second listing re-emits nothing, a new
    key sharing the boundary millisecond IS emitted, an older key is
    not. Listing rows land in a parquet spool with the reference
    attribute surface."""

    def __init__(self, spool_dir: str, state: KVState,
                 key: str = "list_s3"):
        super().__init__(spool_dir, None, None)
        self.state = state
        self.key = key

    def drain(self, client: S3Client, bucket: str, *,
              prefix: str = "", max_keys: int = 1000) -> int:
        import pyarrow as pa

        st = self.state.get(self.key)
        wm = int(st.get("currentTimestamp", 0))
        seen = set(st.get("currentKeys", []))
        fresh = []
        for obj in client.list_objects_v2(bucket, prefix=prefix,
                                          max_keys=max_keys):
            lm = obj["s3.lastModified"]
            if lm < wm or (lm == wm and obj["filename"] in seen):
                continue
            fresh.append(obj)
        if not fresh:
            return 0
        self.land({
            "filename": pa.array([o["filename"] for o in fresh],
                                 pa.string()),
            "bucket": pa.array([o["s3.bucket"] for o in fresh],
                               pa.string()),
            "etag": pa.array([o["s3.etag"] for o in fresh],
                             pa.string()),
            "last_modified": pa.array(
                [o["s3.lastModified"] for o in fresh], pa.int64()),
            "length": pa.array([o["s3.length"] for o in fresh],
                               pa.int64()),
            "store_class": pa.array([o["s3.storeClass"] for o in fresh],
                                    pa.string()),
        })
        new_wm = max(o["s3.lastModified"] for o in fresh)
        new_keys = [o["filename"] for o in fresh
                    if o["s3.lastModified"] == new_wm]
        if new_wm == wm:
            new_keys = sorted(set(new_keys) | seen)
        self.state.put(self.key, {"currentTimestamp": new_wm,
                                  "currentKeys": new_keys})
        return len(fresh)
