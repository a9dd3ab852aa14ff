"""GetTwitter / YandexTranslate / ConsumeWindowsEventLog analogs —
the last three reference source bundles.

NiFi ancestors:
- nifi-social-media-bundle GetTwitter.java — a streaming-HTTP client
  (hbc) drains status JSON into a message queue; endpoints: Sample
  (languages filter only), Firehose (everything), Filter (terms OR
  user ids OR locations; customValidate requires at least one). One
  tweet = one FlowFile with mime.type application/json. The filter
  semantics here mirror the public statuses/filter contract: a tweet
  matches when ANY term matches (case-insensitive substring over the
  text — the public API matches tokenized phrases; substring is the
  deterministic stand-in, documented), or its user id is followed;
  `languages` restricts both Sample and Filter.
- nifi-language-translation-bundle YandexTranslate.java:131-214 —
  form-encoded POST to /api/v1.5/tr.json/translate with repeated
  ``text`` params, ``key`` and ``lang=src-dst``; dynamic properties
  translate INTO ATTRIBUTES in property order, and when Translate
  Content is true the LAST text is the content (written back +
  ``language`` attribute). Non-200 → translation.failure with
  yandex.translate.failure.reason; transport error → comms.failure.
- nifi-windows-event-log-bundle ConsumeWindowsEventLog.java — an
  EvtSubscribe push subscription delivers rendered event XML strings
  (bounded queue, maxBuffer cap per event); each becomes one
  FlowFile with mime.type application/xml. The Windows API is the
  declared platform seam — the subscription here is an injectable
  iterator of XML strings; everything downstream (spool, XPath
  parse) is real.

All three land to the parquet-spool/DataFrame bridge used by every
listen/get source in this repo.
"""

from __future__ import annotations

import json
import urllib.parse

from nifi_spark.spool import Spool

ENDPOINT_SAMPLE = "Sample Endpoint"
ENDPOINT_FIREHOSE = "Firehose Endpoint"
ENDPOINT_FILTER = "Filter Endpoint"


def _payload_columns(payloads: "list[str]", mime: str) -> dict:
    import pyarrow as pa
    return {"mime_type": pa.array([mime] * len(payloads)),
            "payload": pa.array(payloads, pa.string())}


# ---------------------------------------------------------- twitter

class TwitterStreamServer:
    """Deterministic statuses table served per endpoint contract."""

    def __init__(self, tweets: "list[dict]"):
        self.tweets = tweets
        self.requests: list[dict] = []

    def stream(self, endpoint: str, params: dict):
        self.requests.append({"endpoint": endpoint, **params})
        langs = set(params.get("languages") or [])
        terms = [t.lower() for t in params.get("terms") or []]
        follow = set(params.get("follow") or [])
        for tw in self.tweets:
            if langs and tw.get("lang") not in langs:
                continue
            if endpoint == ENDPOINT_FILTER:
                text = tw.get("text", "").lower()
                if not (any(t in text for t in terms)
                        or tw.get("user", {}).get("id") in follow):
                    continue
            yield json.dumps(tw, separators=(",", ":"),
                             sort_keys=True)


class GetTwitterSource(Spool):
    """GetTwitter: drain a stream into the spool. Filter endpoint
    requires terms or follow or locations (customValidate)."""

    def __init__(self, spool_dir: str, *, endpoint: str = ENDPOINT_SAMPLE,
                 languages: "list[str] | None" = None,
                 terms: "list[str] | None" = None,
                 follow: "list[int] | None" = None,
                 locations: "list[str] | None" = None):
        assert endpoint in (ENDPOINT_SAMPLE, ENDPOINT_FIREHOSE,
                            ENDPOINT_FILTER)
        if endpoint == ENDPOINT_FILTER and not (terms or follow
                                                or locations):
            raise ValueError("Filter Endpoint requires at least one of"
                             " terms / IDs to follow / locations")
        self.endpoint = endpoint
        self.params = {"languages": languages, "terms": terms,
                       "follow": follow, "locations": locations}
        super().__init__(spool_dir, "row_seq", "event_seq")

    def drain(self, stream, max_events: int | None = None) -> int:
        out = []
        for line in stream(self.endpoint, self.params):
            out.append(line)
            if max_events and len(out) >= max_events:
                break
        return self.land(_payload_columns(out, "application/json"))


# -------------------------------------------------------- translate

YANDEX_URL = "https://translate.yandex.net/api/v1.5/tr.json/translate"


def yandex_translate(rows: "list[dict]", transport, *, key: str,
                     source_language: str, target_language: str,
                     dynamic_properties: "list[tuple[str, str]]" = (),
                     translate_content: bool = False,
                     content_field: str = "content"):
    """One POST per row with the reference's exact form params; returns
    (successes, comms_failures, translation_failures). Dynamic
    properties are (attribute_name, text_template) pairs where the
    template may reference row fields via {field}; their translations
    land as attributes IN ORDER, the content translation (when
    enabled) lands last and replaces content + sets `language`."""
    ok: list[dict] = []
    comms: list[dict] = []
    failed: list[dict] = []
    for row in rows:
        attr_names = [n for n, _t in dynamic_properties]
        texts = [t.format(**row) for _n, t in dynamic_properties]
        if translate_content:
            texts.append(str(row.get(content_field, "")))
        params = [("text", t) for t in texts]
        params += [("key", key),
                   ("lang", f"{source_language}-{target_language}")]
        try:
            status, body = transport(
                YANDEX_URL, urllib.parse.urlencode(params).encode())
        except IOError:
            comms.append(row)
            continue
        if status != 200:
            failed.append({**row, "yandex.translate.failure.reason":
                           f"HTTP {status}"})
            continue
        translated = json.loads(body.decode())["text"]
        new = dict(row)
        for i, text in enumerate(translated):
            if i < len(attr_names):
                new[attr_names[i]] = text
            else:
                new[content_field] = text
                new["language"] = target_language
        ok.append(new)
    return ok, comms, failed


class FakeTranslator:
    """Deterministic stand-in service (clearly fake translation:
    reverses word order and tags the target language) speaking the
    real request/response shapes."""

    def __init__(self, fail_langs: "set[str]" = frozenset()):
        self.fail_langs = fail_langs
        self.requests: list[dict] = []

    def transport(self, url: str, body: bytes):
        if url != YANDEX_URL:
            return 404, b"{}"
        form = urllib.parse.parse_qs(body.decode())
        self.requests.append(form)
        lang = form["lang"][0]
        if lang.split("-")[1] in self.fail_langs:
            return 501, b'{"code":501}'
        out = [" ".join(reversed(t.split())) + f" [{lang}]"
               for t in form.get("text", [])]
        return 200, json.dumps(
            {"code": 200, "lang": lang, "text": out}).encode()


# --------------------------------------------- windows event log

DEFAULT_WINEVT_QUERY = "*"


class ConsumeWindowsEventLogSource(Spool):
    """Drain a subscription (iterator of rendered event XML strings)
    into the spool; events longer than max_buffer bytes are DROPPED
    with a count (the reference logs and skips oversized renders)."""

    def __init__(self, spool_dir: str, *, channel: str = "System",
                 query: str = DEFAULT_WINEVT_QUERY,
                 max_buffer: int = 1024 * 1024):
        self.channel = channel
        self.query = query
        self.max_buffer = max_buffer
        self.dropped = 0
        super().__init__(spool_dir, "row_seq", "event_seq")

    def drain(self, subscription) -> int:
        out = []
        for xml in subscription(self.channel, self.query):
            if len(xml.encode()) > self.max_buffer:
                self.dropped += 1
                continue
            out.append(xml)
        return self.land(_payload_columns(out, "application/xml"))
