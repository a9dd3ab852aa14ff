"""EXIF/TIFF + container metadata extraction — ExtractImageMetadata /
ExtractMediaMetadata analog (pure stdlib, no metadata-extractor/Tika).

Reference parity:
* ExtractImageMetadata (nifi-media-bundle/nifi-media-processors/src/main/
  java/org/apache/nifi/processors/image/ExtractImageMetadata.java:56-66)
  emits one attribute per tag named ``<directory name>.<tag name>`` —
  mirrored here as (key, value) string pairs with directory prefixes
  ``IFD0`` / ``ExifIFD`` / ``GPS`` / ``Interop`` / ``IFD1``.
* ExtractMediaMetadata (nifi-media-bundle/.../media/
  ExtractMediaMetadata.java:74-136) adds Max Number of Attributes,
  Metadata Key Filter (regex) and Metadata Key Prefix — same knobs on
  :func:`extract_metadata`.

Format coverage: JPEG APP1/Exif TIFF IFD walk (IFD0 → ExifIFD/GPS/Interop
pointers → IFD1 thumbnail), all 12 TIFF value types; JPEG JFIF APP0 and
frame header (dimensions/precision/components); PNG tEXt chunks + IHDR;
WAV RIFF LIST/INFO chunks + fmt; MP4 track header (via datalib.mp4);
BMP/PNM headers. A TIFF *writer* (:func:`build_tiff`, :func:`build_exif_app1`,
:func:`insert_app1`, :func:`insert_png_text`) exists so fixtures are
round-tripped through the real encoder — the gate strategy used for every
codec in this repo (encode from a closed-form formula, decode with the
real parser, regenerate expected values in SQL).

Value formatting contract (deterministic, locale-free — NOT
metadata-extractor's pretty-printing, which is library-specific):
ASCII → the string (NUL-stripped); integer types → space-joined decimal;
RATIONAL/SRATIONAL → ``num/den`` space-joined; UNDEFINED → ASCII if fully
printable else lowercase hex (capped at 64 bytes); FLOAT/DOUBLE → repr.
"""
from __future__ import annotations

import re
import struct
import zlib

# ---------------------------------------------------------------------
# TIFF tag dictionaries (the common EXIF 2.3 subset; unknown tags render
# as Tag0xXXXX so nothing is dropped)
# ---------------------------------------------------------------------

_IFD0_TAGS = {
    0x0100: "ImageWidth", 0x0101: "ImageLength", 0x0102: "BitsPerSample",
    0x0103: "Compression", 0x0106: "PhotometricInterpretation",
    0x010E: "ImageDescription", 0x010F: "Make", 0x0110: "Model",
    0x0111: "StripOffsets", 0x0112: "Orientation", 0x0115: "SamplesPerPixel",
    0x0116: "RowsPerStrip", 0x0117: "StripByteCounts",
    0x011A: "XResolution", 0x011B: "YResolution", 0x011C: "PlanarConfiguration",
    0x0128: "ResolutionUnit", 0x0131: "Software", 0x0132: "DateTime",
    0x013B: "Artist", 0x013C: "HostComputer", 0x013E: "WhitePoint",
    0x013F: "PrimaryChromaticities",
    0x0201: "JPEGInterchangeFormat", 0x0202: "JPEGInterchangeFormatLength",
    0x0211: "YCbCrCoefficients", 0x0212: "YCbCrSubSampling",
    0x0213: "YCbCrPositioning", 0x0214: "ReferenceBlackWhite",
    0x8298: "Copyright", 0x8769: "ExifOffset", 0x8825: "GPSOffset",
}

_EXIF_TAGS = {
    0x829A: "ExposureTime", 0x829D: "FNumber", 0x8822: "ExposureProgram",
    0x8827: "ISOSpeedRatings", 0x9000: "ExifVersion",
    0x9003: "DateTimeOriginal", 0x9004: "DateTimeDigitized",
    0x9101: "ComponentsConfiguration", 0x9102: "CompressedBitsPerPixel",
    0x9201: "ShutterSpeedValue", 0x9202: "ApertureValue",
    0x9203: "BrightnessValue", 0x9204: "ExposureBiasValue",
    0x9205: "MaxApertureValue", 0x9206: "SubjectDistance",
    0x9207: "MeteringMode", 0x9208: "LightSource", 0x9209: "Flash",
    0x920A: "FocalLength", 0x927C: "MakerNote", 0x9286: "UserComment",
    0x9290: "SubSecTime", 0x9291: "SubSecTimeOriginal",
    0x9292: "SubSecTimeDigitized",
    0xA000: "FlashpixVersion", 0xA001: "ColorSpace",
    0xA002: "PixelXDimension", 0xA003: "PixelYDimension",
    0xA004: "RelatedSoundFile", 0xA005: "InteropOffset",
    0xA20E: "FocalPlaneXResolution", 0xA20F: "FocalPlaneYResolution",
    0xA210: "FocalPlaneResolutionUnit", 0xA215: "ExposureIndex",
    0xA217: "SensingMethod", 0xA300: "FileSource", 0xA301: "SceneType",
    0xA302: "CFAPattern", 0xA401: "CustomRendered", 0xA402: "ExposureMode",
    0xA403: "WhiteBalance", 0xA404: "DigitalZoomRatio",
    0xA405: "FocalLengthIn35mmFilm", 0xA406: "SceneCaptureType",
    0xA407: "GainControl", 0xA408: "Contrast", 0xA409: "Saturation",
    0xA40A: "Sharpness", 0xA420: "ImageUniqueID",
}

_GPS_TAGS = {
    0x0000: "GPSVersionID", 0x0001: "GPSLatitudeRef", 0x0002: "GPSLatitude",
    0x0003: "GPSLongitudeRef", 0x0004: "GPSLongitude",
    0x0005: "GPSAltitudeRef", 0x0006: "GPSAltitude", 0x0007: "GPSTimeStamp",
    0x0012: "GPSMapDatum", 0x001D: "GPSDateStamp",
}

_INTEROP_TAGS = {0x0001: "InteroperabilityIndex",
                 0x0002: "InteroperabilityVersion"}

_DIR_TAGS = {"IFD0": _IFD0_TAGS, "IFD1": _IFD0_TAGS, "ExifIFD": _EXIF_TAGS,
             "GPS": _GPS_TAGS, "Interop": _INTEROP_TAGS}

# TIFF type id → (struct code or None, element size)
_TYPES = {1: ("B", 1), 2: (None, 1), 3: ("H", 2), 4: ("I", 4), 5: (None, 8),
          6: ("b", 1), 7: (None, 1), 8: ("h", 2), 9: ("i", 4), 10: (None, 8),
          11: ("f", 4), 12: ("d", 8)}

_PRINTABLE = re.compile(rb"^[\x20-\x7e]+$")


def _fmt_value(typ: int, cnt: int, raw: bytes, bo: str) -> str:
    """The deterministic value-formatting contract (module docstring)."""
    if typ == 2:
        return raw.split(b"\x00", 1)[0].decode("ascii", "replace")
    if typ == 7:
        if _PRINTABLE.match(raw):
            return raw.decode("ascii")
        return raw[:64].hex()
    if typ in (5, 10):
        code = "I" if typ == 5 else "i"
        parts = []
        for j in range(cnt):
            n, d = struct.unpack_from(bo + 2 * code, raw, 8 * j)
            parts.append(f"{n}/{d}")
        return " ".join(parts)
    code, size = _TYPES[typ]
    vals = [struct.unpack_from(bo + code, raw, size * j)[0] for j in range(cnt)]
    if typ in (11, 12):
        return " ".join(repr(v) for v in vals)
    return " ".join(str(v) for v in vals)


def parse_tiff(data: bytes) -> list[tuple[str, str, str]]:
    """Walk a TIFF byte stream → [(directory, tag_name, value_str)].

    Follows IFD0 → ExifIFD / GPS / Interop pointers and the IFD1 (thumbnail)
    chain. Malformed entries are skipped, not fatal — real-camera EXIF is
    full of vendor junk and the reference library is equally lenient."""
    if data[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF stream")
    bo = "<" if data[:2] == b"II" else ">"
    if struct.unpack_from(bo + "H", data, 2)[0] != 42:
        raise ValueError("bad TIFF magic")

    out: list[tuple[str, str, str]] = []
    pointers: list[tuple[int, str]] = []

    def walk(off: int, directory: str) -> int:
        if off == 0 or off + 2 > len(data):
            return 0
        n = struct.unpack_from(bo + "H", data, off)[0]
        tags = _DIR_TAGS[directory]
        for k in range(n):
            e = off + 2 + 12 * k
            if e + 12 > len(data):
                break
            tag, typ, cnt = struct.unpack_from(bo + "HHI", data, e)
            if typ not in _TYPES or cnt > len(data):
                continue
            size = _TYPES[typ][1] * cnt
            vo = e + 8 if size <= 4 else struct.unpack_from(bo + "I", data, e + 8)[0]
            if vo + size > len(data):
                continue
            raw = data[vo:vo + size]
            if directory == "IFD0" and tag == 0x8769:
                pointers.append((struct.unpack_from(bo + "I", raw)[0], "ExifIFD"))
                continue
            if directory == "IFD0" and tag == 0x8825:
                pointers.append((struct.unpack_from(bo + "I", raw)[0], "GPS"))
                continue
            if directory == "ExifIFD" and tag == 0xA005:
                pointers.append((struct.unpack_from(bo + "I", raw)[0], "Interop"))
                continue
            name = tags.get(tag, f"Tag0x{tag:04X}")
            out.append((directory, name, _fmt_value(typ, cnt, raw, bo)))
        tail = off + 2 + 12 * n
        if tail + 4 > len(data):
            return 0
        return struct.unpack_from(bo + "I", data, tail)[0]

    nxt = walk(struct.unpack_from(bo + "I", data, 4)[0], "IFD0")
    for ptr, name in pointers:
        walk(ptr, name)
    if nxt:
        walk(nxt, "IFD1")
    return out


# ---------------------------------------------------------------------
# JPEG segment walk → Exif + JFIF + frame header
# ---------------------------------------------------------------------

def parse_jpeg_metadata(blob: bytes) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    i = 2
    while i + 4 <= len(blob):
        if blob[i] != 0xFF:
            i += 1
            continue
        m = blob[i + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xDA:
            break
        ln = int.from_bytes(blob[i + 2:i + 4], "big")
        seg = blob[i + 4:i + 2 + ln]
        if m == 0xE0 and seg[:5] == b"JFIF\x00":
            out.append(("JFIF.Version", f"{seg[5]}.{seg[6]}"))
            out.append(("JFIF.ResolutionUnits", str(seg[7])))
            out.append(("JFIF.XResolution", str(int.from_bytes(seg[8:10], "big"))))
            out.append(("JFIF.YResolution", str(int.from_bytes(seg[10:12], "big"))))
        elif m == 0xE1 and seg[:6] == b"Exif\x00\x00":
            for d, name, val in parse_tiff(seg[6:]):
                out.append((f"{d}.{name}", val))
        elif m in (0xC0, 0xC1, 0xC2, 0xC3):
            out.append(("JPEG.DataPrecision", str(seg[0])))
            out.append(("JPEG.ImageHeight", str(int.from_bytes(seg[1:3], "big"))))
            out.append(("JPEG.ImageWidth", str(int.from_bytes(seg[3:5], "big"))))
            out.append(("JPEG.NumberOfComponents", str(seg[5])))
            out.append(("JPEG.Progressive", str(m == 0xC2).lower()))
        i += 2 + ln
    return out


# ---------------------------------------------------------------------
# PNG tEXt + IHDR, WAV fmt + LIST/INFO, MP4 track header
# ---------------------------------------------------------------------

def parse_png_metadata(blob: bytes) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    i = 8
    while i + 8 <= len(blob):
        ln = int.from_bytes(blob[i:i + 4], "big")
        kind = blob[i + 4:i + 8]
        body = blob[i + 8:i + 8 + ln]
        if kind == b"IHDR":
            out.append(("PNG.ImageWidth", str(int.from_bytes(body[0:4], "big"))))
            out.append(("PNG.ImageHeight", str(int.from_bytes(body[4:8], "big"))))
            out.append(("PNG.BitDepth", str(body[8])))
            out.append(("PNG.ColorType", str(body[9])))
        elif kind == b"tEXt" and b"\x00" in body:
            key, val = body.split(b"\x00", 1)
            out.append((f"PNG-tEXt.{key.decode('latin-1')}",
                        val.decode("latin-1")))
        elif kind == b"IEND":
            break
        i += 12 + ln
    return out


_INFO_NAMES = {b"INAM": "Title", b"IART": "Artist", b"ICMT": "Comment",
               b"ICRD": "DateCreated", b"ISFT": "Software",
               b"IPRD": "Product", b"IGNR": "Genre", b"ICOP": "Copyright"}


def parse_wav_metadata(blob: bytes) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    i = 12
    while i + 8 <= len(blob):
        cid = blob[i:i + 4]
        ln = int.from_bytes(blob[i + 4:i + 8], "little")
        body = blob[i + 8:i + 8 + ln]
        if cid == b"fmt ":
            ch = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            out += [("WAV.Channels", str(ch)), ("WAV.SampleRate", str(rate)),
                    ("WAV.BitsPerSample", str(bits))]
        elif cid == b"LIST" and body[:4] == b"INFO":
            j = 4
            while j + 8 <= len(body):
                sub = body[j:j + 4]
                sln = int.from_bytes(body[j + 4:j + 8], "little")
                sval = body[j + 8:j + 8 + sln].split(b"\x00", 1)[0]
                name = _INFO_NAMES.get(sub, sub.decode("latin-1"))
                out.append((f"WAV-INFO.{name}", sval.decode("latin-1")))
                j += 8 + sln + (sln & 1)
        i += 8 + ln + (ln & 1)
    return out


def parse_mp4_metadata(blob: bytes) -> list[tuple[str, str]]:
    from nifi_spark.datalib import mp4
    tr = mp4.parse_mp4(blob)
    return [("MP4.ImageWidth", str(tr.width)),
            ("MP4.ImageHeight", str(tr.height)),
            ("MP4.SampleCount", str(tr.n_samples)),
            ("MP4.DurationMs", str(tr.duration_ms()))]


# MPEG-1/2 audio frame tables (public ISO 11172-3 / 13818-3 values)
_MPEG_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
               0: (11025, 12000, 8000)}
_MPEG_BR = {
    (3, 1): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
             384, 416, 448),
    (3, 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
             320, 384),
    (3, 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320),
    (2, 1): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
             224, 256),
    (2, 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160),
}
_MPEG_BR[(2, 3)] = _MPEG_BR[(2, 2)]
_MPEG_BR[(0, 1)] = _MPEG_BR[(2, 1)]
_MPEG_BR[(0, 2)] = _MPEG_BR[(0, 3)] = _MPEG_BR[(2, 2)]


def _id3v1_text(raw: bytes) -> str:
    return raw.split(b"\x00", 1)[0].decode("latin-1").strip()


_ID3_TEXT_ENC = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}
# v2.3/2.4 text frame → ID3v1-compatible key; v2.2 3-char aliases
_ID3_MAP = {"TIT2": "title", "TPE1": "artist", "TALB": "album",
            "TYER": "year", "TDRC": "year", "TRCK": "track",
            "TT2": "title", "TP1": "artist", "TAL": "album",
            "TYE": "year", "TRK": "track"}


def _id3v2_frames(blob: bytes, ver: int, flags: int, size: int
                  ) -> list[tuple[str, str]]:
    """ID3v2.2/2.3/2.4 text frames (informal standards id3.org):
    v2.2 = 3-byte ids + 3-byte sizes, v2.3 = 4+4 plain big-endian,
    v2.4 = 4+4 syncsafe; text payload leads with an encoding byte
    (0 latin-1, 1 utf-16+BOM, 2 utf-16-be, 3 utf-8), NUL-terminated."""
    out: list[tuple[str, str]] = []
    if flags & 0x80 or (ver == 2 and flags & 0x40):
        # unsynchronised tag (0xFF 0x00 stuffing shifts every frame
        # size), or a v2.2 tag flagged compressed: no frame is readable
        # as plain bytes, so keep only the version header pair
        return out
    pos, end = 10, min(10 + size, len(blob))
    if flags & 0x40 and ver in (3, 4) and pos + 4 <= end:
        ext = int.from_bytes(blob[pos:pos + 4], "big")
        if ver == 4:                        # syncsafe, includes itself
            ext = ((blob[pos] << 21) | (blob[pos + 1] << 14)
                   | (blob[pos + 2] << 7) | blob[pos + 3])
            pos += ext
        else:                               # v2.3: size excludes itself
            pos += 4 + ext
    hdr_len, id_len = (6, 3) if ver == 2 else (10, 4)
    while pos + hdr_len <= end:
        fid = blob[pos:pos + id_len]
        if fid.rstrip(b"\x00") == b"":
            break                           # padding reached
        if ver == 2:
            fsz = int.from_bytes(blob[pos + 3:pos + 6], "big")
        elif ver == 4:
            s = blob[pos + 4:pos + 8]
            fsz = (s[0] << 21) | (s[1] << 14) | (s[2] << 7) | s[3]
        else:
            fsz = int.from_bytes(blob[pos + 4:pos + 8], "big")
        data = blob[pos + hdr_len:pos + hdr_len + fsz]
        pos += hdr_len + fsz
        fid_s = fid.decode("latin-1")
        if not fid_s.startswith("T") or fid_s in ("TXX", "TXXX") \
                or not data:
            continue
        enc = _ID3_TEXT_ENC.get(data[0])
        if enc is None:
            continue
        text = data[1:].decode(enc, errors="replace")
        text = text.split("\x00", 1)[0].strip()
        if not text:
            continue
        out.append((f"MP3.ID3v2.{fid_s}", text))
        if fid_s in _ID3_MAP:
            out.append((_ID3_MAP[fid_s], text))
    return out


def parse_mp3_metadata(blob: bytes) -> list[tuple[str, str]]:
    """MPEG audio frame header (version/layer/bitrate/sample-rate/
    channel mode from the public ISO tables) + the ID3v1 tail tag
    (TestExtractMediaMetadata.testMp3's 'Test Title' fixture) + ID3v2
    text frames (v2.2/2.3/2.4, mapped onto the same title/artist/album
    surface; an ID3v1 tag, parsed later, wins on conflicts exactly
    like Tika's last-metadata-wins fallback)."""
    out = [("Content-Type", "audio/mpeg")]
    pos = 0
    if blob[:3] == b"ID3":
        size = ((blob[6] << 21) | (blob[7] << 14) | (blob[8] << 7)
                | blob[9])
        out.append(("MP3.ID3v2", f"2.{blob[3]}.{blob[4]}"))
        out += _id3v2_frames(blob, blob[3], blob[5], size)
        pos = 10 + size
    while pos + 4 <= len(blob) and not (
            blob[pos] == 0xFF and blob[pos + 1] & 0xE0 == 0xE0):
        pos += 1
    if pos + 4 <= len(blob):
        b1, b2, b3 = blob[pos + 1], blob[pos + 2], blob[pos + 3]
        ver = (b1 >> 3) & 3                 # 3=MPEG1 2=MPEG2 0=MPEG2.5
        layer = 4 - ((b1 >> 1) & 3)         # coded 3→Layer I … 1→III
        br_idx, sr_idx = b2 >> 4, (b2 >> 2) & 3
        if ver in _MPEG_RATES and 1 <= layer <= 3 and sr_idx < 3 \
                and 0 < br_idx < 15:
            out += [("MP3.Version",
                     {3: "MPEG-1", 2: "MPEG-2", 0: "MPEG-2.5"}[ver]),
                    ("MP3.Layer", {1: "I", 2: "II", 3: "III"}[layer]),
                    ("MP3.Bitrate",
                     f"{_MPEG_BR[(ver, layer)][br_idx]} kbps"),
                    ("MP3.SampleRate",
                     str(_MPEG_RATES[ver][sr_idx])),
                    ("MP3.Channels",
                     "1" if (b3 >> 6) == 3 else "2")]
    if len(blob) >= 128 and blob[-128:-125] == b"TAG":
        tag = blob[-128:]
        out += [("title", _id3v1_text(tag[3:33])),
                ("artist", _id3v1_text(tag[33:63])),
                ("album", _id3v1_text(tag[63:93])),
                ("year", _id3v1_text(tag[93:97]))]
        if tag[125] == 0 and tag[126] != 0:      # ID3v1.1 track marker
            out += [("comment", _id3v1_text(tag[97:125])),
                    ("track", str(tag[126]))]
        else:
            out.append(("comment", _id3v1_text(tag[97:127])))
        out.append(("genre", str(tag[127])))
    return out


def parse_ogg_metadata(blob: bytes) -> list[tuple[str, str]]:
    """Ogg page walk + Vorbis identification/comment headers (RFC 3533
    framing; Vorbis I spec headers). The first page MUST be
    beginning-of-stream (header type bit 0x02) — the reference's
    corrupt fixture flips that and routes to failure, reproduced here
    as a ValueError."""
    packets: list[bytes] = []
    cur = b""
    pos, page_i = 0, 0
    while pos + 27 <= len(blob) and len(packets) < 2:
        if blob[pos:pos + 4] != b"OggS" or blob[pos + 4] != 0:
            raise ValueError("bad Ogg page header")
        htype = blob[pos + 5]
        if page_i == 0 and not htype & 0x02:
            raise ValueError("first Ogg page is not beginning-of-stream")
        nsegs = blob[pos + 26]
        lacing = blob[pos + 27:pos + 27 + nsegs]
        body = pos + 27 + nsegs
        for seg in lacing:
            cur += blob[body:body + seg]
            body += seg
            if seg < 255:
                packets.append(cur)
                cur = b""
        pos = body
        page_i += 1
    if not packets or packets[0][:7] != b"\x01vorbis":
        raise ValueError("not a Vorbis stream")
    ident = packets[0]
    out = [("Content-Type", "audio/vorbis"),
           ("OGG.Channels", str(ident[11])),
           ("OGG.SampleRate",
            str(struct.unpack_from("<I", ident, 12)[0]))]
    if len(packets) > 1 and packets[1][:7] == b"\x03vorbis":
        c = packets[1]
        p = 7
        vlen = struct.unpack_from("<I", c, p)[0]
        p += 4
        out.append(("OGG.Vendor", c[p:p + vlen].decode("utf-8",
                                                       "replace")))
        p += vlen
        n = struct.unpack_from("<I", c, p)[0]
        p += 4
        for _ in range(n):
            ln = struct.unpack_from("<I", c, p)[0]
            p += 4
            kv = c[p:p + ln].decode("utf-8", "replace")
            p += ln
            k, _, v = kv.partition("=")
            out.append((f"OGG.{k}", v))
    return out


def extract_metadata_blob(blob: bytes) -> list[tuple[str, str]]:
    """Sniff the container and emit (key, value) pairs — the per-payload
    core that extract_media_metadata maps over Arrow batches."""
    from nifi_spark.datalib.media_codec import sniff_media
    mime = sniff_media(blob)
    out = [("MediaType", mime)]
    if mime == "image/jpeg":
        out += parse_jpeg_metadata(blob)
    elif mime == "image/png":
        out += parse_png_metadata(blob)
    elif mime == "audio/wav":
        out += parse_wav_metadata(blob)
    elif mime == "video/mp4":
        out += parse_mp4_metadata(blob)
    elif mime == "image/bmp":
        out += [("BMP.ImageWidth", str(int.from_bytes(blob[18:22], "little", signed=True))),
                ("BMP.ImageHeight", str(abs(int.from_bytes(blob[22:26], "little", signed=True))))]
    elif mime == "audio/mpeg":
        out += parse_mp3_metadata(blob)
    elif mime == "audio/ogg":
        out += parse_ogg_metadata(blob)
    elif mime == "image/gif":
        # the surface ExtractImageMetadataTest asserts for its
        # photoshop GIF fixture (header + first GCE extension)
        w, h = struct.unpack_from("<HH", blob, 6)
        flags = blob[10]
        out += [("GIF.Version", blob[3:6].decode("ascii")),
                ("GIF.ImageWidth", str(w)), ("GIF.ImageHeight", str(h)),
                ("GIF.ColorTableSize", str(2 << (flags & 7))
                 if flags & 0x80 else "0"),
                ("GIF.HasGlobalColorTable",
                 "true" if flags & 0x80 else "false"),
                ("GIF.BitsPerPixel", str((flags & 7) + 1)),
                ("GIF.IsColorTableSorted",
                 "true" if flags & 0x08 else "false")]
        # first Graphic Control Extension (0x21 0xF9 size=4 packed
        # delay16 transparent-index terminator); scanned by pattern —
        # XMP application extensions (photoshop writes them before the
        # GCE) use raw-packet framing that defeats a sub-block walk
        gce = blob.find(b"\x21\xf9\x04")
        if gce != -1 and gce + 7 < len(blob) and blob[gce + 3] & 0x01:
            out.append(("GIF.TransparentColorIndex",
                        str(blob[gce + 6])))
    return out


# ---------------------------------------------------------------------
# TIFF writer — fixtures go through the REAL encoder
# ---------------------------------------------------------------------

# entry value → (type, packed bytes): str → ASCII, int/list[int] → SHORT or
# LONG (auto), (n, d) or list[(n, d)] → RATIONAL, bytes → UNDEFINED.

def _pack_entry(value, bo: str) -> tuple[int, int, bytes]:
    if isinstance(value, str):
        raw = value.encode("ascii") + b"\x00"
        return 2, len(raw), raw
    if isinstance(value, bytes):
        return 7, len(value), value
    if isinstance(value, tuple):
        value = [value]
    if isinstance(value, int):
        value = [value]
    if value and isinstance(value[0], tuple):
        raw = b"".join(struct.pack(bo + "II", n, d) for n, d in value)
        return 5, len(value), raw
    if all(0 <= v <= 0xFFFF for v in value):
        return 3, len(value), b"".join(struct.pack(bo + "H", v) for v in value)
    return 4, len(value), b"".join(struct.pack(bo + "I", v) for v in value)


def build_tiff(ifd0: dict[int, object],
               exif: dict[int, object] | None = None,
               bo: str = "<") -> bytes:
    """Serialize IFD0 (+ optional ExifIFD behind an 0x8769 pointer) into a
    valid TIFF stream. Out-of-line values land after both IFD tables."""
    exif = exif or {}
    ifd0 = dict(ifd0)
    n0, n1 = len(ifd0) + (1 if exif else 0), len(exif)
    ifd0_off = 8
    exif_off = ifd0_off + 2 + 12 * n0 + 4
    data_off = exif_off + ((2 + 12 * n1 + 4) if exif else 0)
    heap = bytearray()

    def table(entries: dict[int, object], ptr: dict[int, int]) -> bytes:
        body = bytearray(struct.pack(bo + "H", len(entries) + len(ptr)))
        items = sorted(list(entries.items()) +
                       [(t, None) for t in ptr])  # TIFF requires tag order
        for tag, value in items:
            if value is None:
                body += struct.pack(bo + "HHII", tag, 4, 1, ptr[tag])
                continue
            typ, cnt, raw = _pack_entry(value, bo)
            if len(raw) <= 4:
                body += struct.pack(bo + "HHI", tag, typ, cnt) + raw.ljust(4, b"\x00")
            else:
                off = data_off + len(heap)
                heap.extend(raw + (b"\x00" if len(raw) & 1 else b""))
                body += struct.pack(bo + "HHII", tag, typ, cnt, off)
        body += struct.pack(bo + "I", 0)  # next-IFD = none
        return bytes(body)

    t0 = table(ifd0, {0x8769: exif_off} if exif else {})
    t1 = table(exif, {}) if exif else b""
    head = struct.pack(bo + "2sHI", b"II" if bo == "<" else b"MM", 42, ifd0_off)
    return head + t0 + t1 + bytes(heap)


def build_exif_app1(ifd0: dict[int, object],
                    exif: dict[int, object] | None = None) -> bytes:
    return b"Exif\x00\x00" + build_tiff(ifd0, exif)


def insert_app1(jpeg: bytes, payload: bytes) -> bytes:
    """Splice an APP1 segment right after SOI (how cameras place Exif)."""
    if jpeg[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG")
    if len(payload) + 2 > 0xFFFF:
        raise ValueError("APP1 payload too large")
    seg = b"\xFF\xE1" + (len(payload) + 2).to_bytes(2, "big") + payload
    return jpeg[:2] + seg + jpeg[2:]


_INFO_IDS = {v: k for k, v in _INFO_NAMES.items()}


def insert_wav_info(wav: bytes, pairs: list[tuple[str, str]]) -> bytes:
    """Append a LIST/INFO chunk and fix up the RIFF size field."""
    body = bytearray(b"INFO")
    for name, val in pairs:
        cid = _INFO_IDS.get(name, name[:4].ljust(4).encode("latin-1"))
        raw = val.encode("latin-1") + b"\x00"
        raw += b"\x00" * (len(raw) & 1)
        body += cid + len(raw).to_bytes(4, "little") + raw
    out = wav + b"LIST" + len(body).to_bytes(4, "little") + bytes(body)
    riff_size = len(out) - 8
    return out[:4] + riff_size.to_bytes(4, "little") + out[8:]


def insert_png_text(png: bytes, pairs: list[tuple[str, str]]) -> bytes:
    """Splice tEXt chunks before IEND (CRC-correct)."""
    iend = png.rfind(b"IEND") - 4
    chunks = bytearray()
    for key, val in pairs:
        body = key.encode("latin-1") + b"\x00" + val.encode("latin-1")
        chunks += len(body).to_bytes(4, "big") + b"tEXt" + body
        chunks += zlib.crc32(b"tEXt" + body).to_bytes(4, "big")
    return png[:iend] + bytes(chunks) + png[iend:]
