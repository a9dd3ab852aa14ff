"""GetKafka/PutKafka analog — the Kafka 0.8 wire protocol itself
(v0 APIs), pure Python over the repo's injectable byte-stream
convention; no JVM classpath, no broker dependency.

NiFi ancestors: GetKafka (nifi-kafka-bundle/nifi-kafka-0-8-processors/
.../GetKafka.java:75-79 — kafka.topic/key/partition/offset attribute
surface) and PutKafka (PutKafka.java — key-hash partitioning). The
existing `sources/kafka.py` covers the Spark-datasource path when the
spark-sql-kafka classpath exists; THIS module closes the gap when it
doesn't, speaking the public protocol (kafka.apache.org/protocol)
directly: request/response framing, Metadata v0, Produce v0, Fetch v0,
and MessageSet v0 (CRC-validated messages; gzip, snappy — xerial
SnappyOutputStream framing — and LZ4-frame compression attributes,
the snappy/lz4 codecs from functions/snappy_codec.py + lz4_codec.py;
the LZ4 decoder accepts KAFKA-3160's broken magic-included header
checksum that 0.x producers wrote).

v0 compressed-set semantics are reproduced faithfully: a producer
sends inner offsets 0..n-1; the broker decompresses, assigns absolute
offsets, and re-compresses ONE wrapper message whose offset is the
LAST inner offset (the 0.8 convention), so a fetch landing mid-wrapper
returns the whole wrapper and the CONSUMER discards inner messages
below its fetch offset — exactly what kafka.consumer.ConsumerIterator
did. Fetch max_bytes truncates at a message boundary; when even the
first entry doesn't fit, a truncated prefix comes back and the client
raises "increase fetch size", the real 0.8 contract.

The spool bridge pairs broker offsets with the repo's ledger
(commit-then-checkpoint AFTER the atomic spool rename): at-least-once
landings, exactly-once downstream via the immutable spool — strictly
stronger than ConsumeKafka's broker-side commit window.
"""

from __future__ import annotations

import gzip
import json
import os
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from nifi_spark.spool import Spool, publish_json

API_PRODUCE, API_FETCH, API_METADATA = 0, 1, 3
ERR_NONE, ERR_OFFSET_OUT_OF_RANGE, ERR_UNKNOWN_TOPIC = 0, 1, 3
COMPRESSION_NONE, COMPRESSION_GZIP = 0, 1
COMPRESSION_SNAPPY, COMPRESSION_LZ4 = 2, 3


class KafkaWireError(IOError):
    pass


# ----------------------------------------------------- primitive codec


def _str(s: "str | None") -> bytes:
    if s is None:
        return struct.pack(">h", -1)
    b = s.encode()
    return struct.pack(">h", len(b)) + b


def _rd_str(buf: bytes, pos: int) -> "tuple[str | None, int]":
    (n,) = struct.unpack_from(">h", buf, pos)
    pos += 2
    if n < 0:
        return None, pos
    return buf[pos:pos + n].decode(), pos + n


def _bytes(b: "bytes | None") -> bytes:
    if b is None:
        return struct.pack(">i", -1)
    return struct.pack(">i", len(b)) + b


def _rd_bytes(buf: bytes, pos: int) -> "tuple[bytes | None, int]":
    (n,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    if n < 0:
        return None, pos
    return buf[pos:pos + n], pos + n


def _read_exact(read, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = read(n - len(buf))
        if not chunk:
            raise KafkaWireError(f"stream ended ({len(buf)}/{n})")
        buf += chunk
    return buf


def send_request(write, api_key: int, api_version: int, corr_id: int,
                 client_id: str, body: bytes) -> None:
    payload = (struct.pack(">hhi", api_key, api_version, corr_id)
               + _str(client_id) + body)
    write(struct.pack(">i", len(payload)) + payload)


def read_request(read) -> "tuple[int, int, int, str, bytes] | None":
    head = read(4)
    if not head:
        return None
    head = head + _read_exact(read, 4 - len(head)) if len(head) < 4 else head
    (size,) = struct.unpack(">i", head)
    payload = _read_exact(read, size)
    api_key, api_version, corr_id = struct.unpack_from(">hhi", payload, 0)
    client_id, pos = _rd_str(payload, 8)
    return api_key, api_version, corr_id, client_id or "", payload[pos:]


def send_response(write, corr_id: int, body: bytes) -> None:
    write(struct.pack(">ii", len(body) + 4, corr_id) + body)


def read_response(read) -> "tuple[int, bytes]":
    (size,) = struct.unpack(">i", _read_exact(read, 4))
    payload = _read_exact(read, size)
    (corr_id,) = struct.unpack_from(">i", payload, 0)
    return corr_id, payload[4:]


# ------------------------------------------------------ MessageSet v0


def encode_message(key: "bytes | None", value: "bytes | None",
                   attributes: int = 0) -> bytes:
    body = (struct.pack(">bb", 0, attributes)   # magic 0, attributes
            + _bytes(key) + _bytes(value))
    return struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF) + body


def encode_message_set(
        entries: "list[tuple[int, bytes]]") -> bytes:
    """entries = [(offset, encoded_message)] — v0 sets have NO count
    prefix, just concatenated (offset, size, message)."""
    out = bytearray()
    for off, msg in entries:
        out += struct.pack(">qi", off, len(msg)) + msg
    return bytes(out)


def decode_message_set(buf: bytes, *, allow_partial: bool = False
                       ) -> "list[tuple[int, int, bytes | None, bytes | None]]":
    """→ [(offset, attributes, key, value)], CRC-checked, compressed
    wrappers expanded recursively. A trailing partial entry raises
    unless allow_partial (the fetch-truncation contract)."""
    out, pos = [], 0
    while pos < len(buf):
        if pos + 12 > len(buf):
            if allow_partial:
                break
            raise KafkaWireError("truncated message set header")
        off, size = struct.unpack_from(">qi", buf, pos)
        pos += 12
        if pos + size > len(buf):
            if allow_partial:
                break
            raise KafkaWireError("truncated message")
        msg = buf[pos:pos + size]
        pos += size
        (crc,) = struct.unpack_from(">I", msg, 0)
        if zlib.crc32(msg[4:]) & 0xFFFFFFFF != crc:
            raise KafkaWireError(f"CRC mismatch at offset {off}")
        magic, attributes = struct.unpack_from(">bb", msg, 4)
        if magic != 0:
            raise KafkaWireError(f"unsupported magic {magic}")
        key, p = _rd_bytes(msg, 6)
        value, _ = _rd_bytes(msg, p)
        codec = attributes & 0x07
        if codec == COMPRESSION_NONE:
            out.append((off, attributes, key, value))
        elif codec == COMPRESSION_GZIP:
            out.extend(decode_message_set(gzip.decompress(value)))
        elif codec == COMPRESSION_SNAPPY:
            # Kafka wrapper values ride snappy-java's xerial stream
            from nifi_spark.functions.snappy_codec import \
                snappy_java_stream_decompress
            out.extend(decode_message_set(
                snappy_java_stream_decompress(value)))
        elif codec == COMPRESSION_LZ4:
            # LZ4 FRAME format (the decoder also accepts the broken
            # magic-included header checksum old producers wrote,
            # KAFKA-3160)
            from nifi_spark.functions.lz4_codec import \
                lz4_frame_decompress
            out.extend(decode_message_set(lz4_frame_decompress(value)))
        else:
            raise KafkaWireError(f"unsupported compression {codec}")
    return out


def gzip_wrap(entries: "list[tuple[int, bytes]]") -> bytes:
    """Compress a message set into ONE v0 gzip wrapper message; the
    wrapper's offset is the LAST inner offset (0.8 convention)."""
    inner = encode_message_set(entries)
    # mtime=0: deterministic bytes (reproducible spools/tests)
    payload = gzip.compress(inner, mtime=0)
    wrapper = encode_message(None, payload, COMPRESSION_GZIP)
    return encode_message_set([(entries[-1][0], wrapper)])


def snappy_wrap(entries: "list[tuple[int, bytes]]") -> bytes:
    """One v0 snappy wrapper message (xerial SnappyOutputStream
    framing, like the snappy-java path Kafka producers use)."""
    from nifi_spark.functions.snappy_codec import \
        snappy_java_stream_compress
    inner = encode_message_set(entries)
    wrapper = encode_message(None, snappy_java_stream_compress(inner),
                             COMPRESSION_SNAPPY)
    return encode_message_set([(entries[-1][0], wrapper)])


def lz4_wrap(entries: "list[tuple[int, bytes]]") -> bytes:
    """One v0 LZ4-frame wrapper message."""
    from nifi_spark.functions.lz4_codec import lz4_frame_compress
    inner = encode_message_set(entries)
    wrapper = encode_message(None, lz4_frame_compress(inner),
                             COMPRESSION_LZ4)
    return encode_message_set([(entries[-1][0], wrapper)])


# -------------------------------------------------------------- broker


class KafkaBroker:
    """Single-node in-memory broker serving Metadata/Produce/Fetch v0
    over one injectable session. Logs are per (topic, partition) lists
    of (offset, raw_entry_bytes, first_offset) — compressed wrappers
    store their full range so mid-wrapper fetches re-serve the wrapper."""

    def __init__(self, *, node_id: int = 0, host: str = "localhost",
                 port: int = 9092, auto_create: bool = False,
                 recompress: bool = True):
        self.node_id, self.host, self.port = node_id, host, port
        self.auto_create = auto_create
        self.recompress = recompress
        self.topics: "dict[str, int]" = {}       # name → n_partitions
        self.logs: "dict[tuple[str, int], list]" = {}
        self.next_offset: "dict[tuple[str, int], int]" = {}
        self.produced = 0

    def create_topic(self, name: str, partitions: int = 1) -> None:
        self.topics[name] = partitions
        for p in range(partitions):
            self.logs.setdefault((name, p), [])
            self.next_offset.setdefault((name, p), 0)

    def append(self, topic: str, partition: int, message_set: bytes
               ) -> "tuple[int, int]":
        """→ (error, base_offset). Decompresses producer sets, assigns
        absolute offsets; gzip input is re-compressed as one wrapper
        (broker-side recompression, the 0.8 behavior)."""
        tp = (topic, partition)
        if tp not in self.logs:
            if not self.auto_create:
                return ERR_UNKNOWN_TOPIC, -1
            self.create_topic(topic, partition + 1)
        msgs = decode_message_set(message_set)
        if not msgs:
            return ERR_NONE, self.next_offset[tp]
        base = self.next_offset[tp]
        # detect compression from the RAW set (any wrapper attribute)
        raw_codecs = {a & 0x07 for _, a, _, _ in
                      _raw_entries(message_set)}
        compressed = bool(raw_codecs - {COMPRESSION_NONE})
        entries = [(base + i, encode_message(k, v))
                   for i, (_o, _a, k, v) in enumerate(msgs)]
        if compressed and self.recompress:
            raw = gzip_wrap(entries)
            self.logs[tp].append((base + len(msgs) - 1, raw, base))
        else:
            for off, m in entries:
                self.logs[tp].append(
                    (off, encode_message_set([(off, m)]), off))
        self.next_offset[tp] = base + len(msgs)
        self.produced += len(msgs)
        return ERR_NONE, base

    def fetch(self, topic: str, partition: int, offset: int,
              max_bytes: int) -> "tuple[int, int, bytes]":
        """→ (error, highwatermark, message_set_bytes) with boundary
        truncation; a too-big first entry returns a truncated prefix
        (the consumer raises 'increase fetch size')."""
        tp = (topic, partition)
        if tp not in self.logs:
            return ERR_UNKNOWN_TOPIC, -1, b""
        hw = self.next_offset[tp]
        if offset > hw or offset < 0:
            return ERR_OFFSET_OUT_OF_RANGE, hw, b""
        out = bytearray()
        for last_off, raw, _first in self.logs[tp]:
            if last_off < offset:
                continue
            if len(out) + len(raw) > max_bytes:
                if not out:
                    out += raw[:max_bytes]   # partial single message
                break
            out += raw
        return ERR_NONE, hw, bytes(out)

    # ---- wire loop

    def serve(self, read, write) -> int:
        """Serve one session until EOF → messages produced."""
        while True:
            req = read_request(read)
            if req is None:
                return self.produced
            api_key, api_version, corr_id, _cid, body = req
            if api_version != 0:
                raise KafkaWireError(f"unsupported version {api_version}")
            if api_key == API_METADATA:
                send_response(write, corr_id, self._metadata(body))
            elif api_key == API_PRODUCE:
                send_response(write, corr_id, self._produce(body))
            elif api_key == API_FETCH:
                send_response(write, corr_id, self._fetch(body))
            else:
                raise KafkaWireError(f"unsupported api {api_key}")

    def _metadata(self, body: bytes) -> bytes:
        (n,) = struct.unpack_from(">i", body, 0)
        pos, names = 4, []
        for _ in range(n):
            s, pos = _rd_str(body, pos)
            names.append(s)
        if not names:
            names = sorted(self.topics)
        out = bytearray(struct.pack(">i", 1))       # one broker
        out += struct.pack(">i", self.node_id) + _str(self.host)
        out += struct.pack(">i", self.port)
        out += struct.pack(">i", len(names))
        for name in names:
            known = name in self.topics
            out += struct.pack(">h", ERR_NONE if known
                               else ERR_UNKNOWN_TOPIC)
            out += _str(name)
            nparts = self.topics.get(name, 0)
            out += struct.pack(">i", nparts)
            for p in range(nparts):
                out += struct.pack(">hii", ERR_NONE, p, self.node_id)
                out += struct.pack(">ii", 1, self.node_id)   # replicas
                out += struct.pack(">ii", 1, self.node_id)   # isr
        return bytes(out)

    def _produce(self, body: bytes) -> bytes:
        _acks, _timeout = struct.unpack_from(">hi", body, 0)
        (ntopics,) = struct.unpack_from(">i", body, 6)
        pos = 10
        out = bytearray(struct.pack(">i", ntopics))
        for _ in range(ntopics):
            name, pos = _rd_str(body, pos)
            (nparts,) = struct.unpack_from(">i", body, pos)
            pos += 4
            out += _str(name) + struct.pack(">i", nparts)
            for _p in range(nparts):
                part, size = struct.unpack_from(">ii", body, pos)
                pos += 8
                mset = body[pos:pos + size]
                pos += size
                err, base = self.append(name, part, mset)
                out += struct.pack(">ihq", part, err, base)
        return bytes(out)

    def _fetch(self, body: bytes) -> bytes:
        _replica, _max_wait, _min_bytes = struct.unpack_from(
            ">iii", body, 0)
        (ntopics,) = struct.unpack_from(">i", body, 12)
        pos = 16
        out = bytearray(struct.pack(">i", ntopics))
        for _ in range(ntopics):
            name, pos = _rd_str(body, pos)
            (nparts,) = struct.unpack_from(">i", body, pos)
            pos += 4
            out += _str(name) + struct.pack(">i", nparts)
            for _p in range(nparts):
                part, off, max_bytes = struct.unpack_from(
                    ">iqi", body, pos)
                pos += 16
                err, hw, mset = self.fetch(name, part, off, max_bytes)
                out += struct.pack(">ihqi", part, err, hw, len(mset))
                out += mset
        return bytes(out)


def _raw_entries(buf: bytes):
    """Top-level (offset, attributes, key, value) WITHOUT expanding
    compressed wrappers (broker-side codec sniff)."""
    pos = 0
    while pos + 12 <= len(buf):
        off, size = struct.unpack_from(">qi", buf, pos)
        pos += 12
        msg = buf[pos:pos + size]
        pos += size
        _magic, attributes = struct.unpack_from(">bb", msg, 4)
        key, p = _rd_bytes(msg, 6)
        value, _ = _rd_bytes(msg, p)
        yield off, attributes, key, value


# -------------------------------------------------------------- client


def partition_for_key(key: bytes, n_partitions: int) -> int:
    """PutKafka's default key partitioner shape (hash % partitions),
    using a fixed public hash (crc32) so placement is deterministic
    across processes — Java hashCode isn't portable."""
    return (zlib.crc32(key) & 0x7FFFFFFF) % n_partitions


class KafkaWireClient:
    def __init__(self, read, write, *, client_id: str = "nifi-spark"):
        self.read, self.write = read, write
        self.client_id = client_id
        self._corr = 0

    def _call(self, api_key: int, body: bytes) -> bytes:
        self._corr += 1
        send_request(self.write, api_key, 0, self._corr,
                     self.client_id, body)
        corr, resp = read_response(self.read)
        if corr != self._corr:
            raise KafkaWireError(f"correlation {corr} != {self._corr}")
        return resp

    def metadata(self, topics: "list[str] | None" = None
                 ) -> "dict[str, list[int]]":
        body = struct.pack(">i", len(topics or []))
        for t in topics or []:
            body += _str(t)
        resp = self._call(API_METADATA, body)
        (nbrokers,) = struct.unpack_from(">i", resp, 0)
        pos = 4
        for _ in range(nbrokers):
            pos += 4
            _h, pos = _rd_str(resp, pos)
            pos += 4
        (ntopics,) = struct.unpack_from(">i", resp, pos)
        pos += 4
        out: "dict[str, list[int]]" = {}
        for _ in range(ntopics):
            (terr,) = struct.unpack_from(">h", resp, pos)
            pos += 2
            name, pos = _rd_str(resp, pos)
            (nparts,) = struct.unpack_from(">i", resp, pos)
            pos += 4
            parts = []
            for _p in range(nparts):
                _e, pid, _leader = struct.unpack_from(">hii", resp, pos)
                pos += 10
                (nrep,) = struct.unpack_from(">i", resp, pos)
                pos += 4 + 4 * nrep
                (nisr,) = struct.unpack_from(">i", resp, pos)
                pos += 4 + 4 * nisr
                parts.append(pid)
            if terr == ERR_NONE:
                out[name] = sorted(parts)
        return out

    def produce(self, topic: str, partition: int,
                messages: "list[tuple[bytes | None, bytes]]",
                *, compress: "bool | str" = False,
                acks: int = 1) -> int:
        """→ base offset. Producer-side inner offsets are 0..n-1, per
        the v0 contract; `compress` sends one wrapper message — True
        or "gzip" for gzip, "snappy" (xerial stream) or "lz4" (frame
        format) for the other producer codecs."""
        entries = [(i, encode_message(k, v))
                   for i, (k, v) in enumerate(messages)]
        if compress in (True, "gzip"):
            mset = gzip_wrap(entries)
        elif compress == "snappy":
            mset = snappy_wrap(entries)
        elif compress == "lz4":
            mset = lz4_wrap(entries)
        elif not compress:
            mset = encode_message_set(entries)
        else:
            raise KafkaWireError(f"unknown codec {compress!r}")
        body = (struct.pack(">hii", acks, 1000, 1) + _str(topic)
                + struct.pack(">iii", 1, partition, len(mset)) + mset)
        resp = self._call(API_PRODUCE, body)
        pos = 4
        _name, pos = _rd_str(resp, pos)
        pos += 4
        part, err, base = struct.unpack_from(">ihq", resp, pos)
        if err != ERR_NONE:
            raise KafkaWireError(f"produce error {err} on {topic}/{part}")
        return base

    def fetch(self, topic: str, partition: int, offset: int,
              *, max_bytes: int = 1 << 20
              ) -> "tuple[int, list[tuple[int, bytes | None, bytes | None]]]":
        """→ (highwatermark, [(offset, key, value)]) with inner
        messages below `offset` discarded (compressed-wrapper replay)."""
        body = (struct.pack(">iiii", -1, 100, 1, 1) + _str(topic)
                + struct.pack(">iiqi", 1, partition, offset, max_bytes))
        resp = self._call(API_FETCH, body)
        pos = 4
        _name, pos = _rd_str(resp, pos)
        pos += 4
        part, err, hw, size = struct.unpack_from(">ihqi", resp, pos)
        pos += 18
        if err == ERR_OFFSET_OUT_OF_RANGE:
            raise KafkaWireError(f"offset {offset} out of range (hw {hw})")
        if err != ERR_NONE:
            raise KafkaWireError(f"fetch error {err} on {topic}/{part}")
        mset = resp[pos:pos + size]
        msgs = decode_message_set(mset, allow_partial=True)
        if not msgs and size > 0 and hw > offset:
            raise KafkaWireError(
                "first message exceeds fetch max_bytes — increase it")
        return hw, [(o, k, v) for o, _a, k, v in msgs if o >= offset]


def kafka_loopback(broker: KafkaBroker):
    """Broker on a socketpair thread → (read, write, join); join()
    returns the broker's produced-message count."""
    import socket
    import threading

    a, b = socket.socketpair()
    result: "list[int]" = []
    errs: "list[BaseException]" = []

    def run():
        try:
            result.append(broker.serve(b.recv, b.sendall))
        except BaseException as exc:
            errs.append(exc)
        finally:
            b.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()

    def join() -> int:
        a.close()
        t.join(timeout=10)
        if errs:
            raise errs[0]
        return result[0] if result else 0

    return a.recv, a.sendall, join


# ----------------------------------------------------------- bridge


class ConsumeKafkaWireSource(Spool):
    """Drain-to-spool bridge with ledgered offsets: metadata → fetch
    every partition from its committed next-offset to the
    highwatermark → one atomic spool file → commit offsets to a state
    file. Crash between rename and commit re-lands the batch
    (at-least-once, like ConsumeKafka); downstream dedups on
    (topic, partition, kafka_offset) if it needs exactly-once. Columns
    mirror GetKafka's attribute surface (GetKafka.java:75-79)."""

    def __init__(self, spool_dir: str):
        super().__init__(spool_dir, None, None)
        self._state_path = os.path.join(spool_dir, "offsets.json")

    def _offsets(self) -> "dict[str, int]":
        if os.path.exists(self._state_path):
            with open(self._state_path) as f:
                return json.load(f)
        return {}

    def drain(self, client: KafkaWireClient, topic: str, *,
              max_bytes: int = 1 << 20) -> int:
        import pyarrow as pa

        parts = client.metadata([topic]).get(topic)
        if parts is None:
            raise KafkaWireError(f"unknown topic {topic!r}")
        state = self._offsets()
        rows = []            # (partition, offset, key, value)
        new_state = dict(state)
        for p in sorted(parts):
            off = int(state.get(f"{topic}/{p}", 0))
            while True:
                hw, msgs = client.fetch(topic, p, off,
                                        max_bytes=max_bytes)
                for o, k, v in msgs:
                    rows.append((p, o, k, v))
                if msgs:
                    off = msgs[-1][0] + 1
                if off >= hw:
                    break
            new_state[f"{topic}/{p}"] = off
        if not rows:
            return 0
        self.land({
            "kafka_topic": pa.array([topic] * len(rows), pa.string()),
            "kafka_partition": pa.array([r[0] for r in rows],
                                        pa.int32()),
            "kafka_offset": pa.array([r[1] for r in rows], pa.int64()),
            "kafka_key": pa.array([r[2] for r in rows], pa.binary()),
            "payload": pa.array([r[3] for r in rows], pa.binary()),
        })
        publish_json(self._state_path, new_state)
        return len(rows)

    def read(self, spark: SparkSession) -> DataFrame:
        # total order within a partition = (kafka_partition,
        # kafka_offset); there is no cross-partition order, exactly
        # like Kafka itself.
        return (spark.read
                .schema("batch_id bigint, kafka_topic string, "
                        "kafka_partition int, kafka_offset bigint, "
                        "kafka_key binary, payload binary")
                .parquet(self.spool_dir + "/batch_*.parquet"))
