"""CSV source with encoding fallback (operator S1 in SURVEY.md §2.1).

The reference tries ``utf-8 → utf-8-sig → cp1252 → latin1`` and finally
decodes with replacement (app.py:11-60); its shipped data is actually
cp1252. Rather than re-reading a 100 TB input once per candidate
encoding, we *sniff* a small prefix of the file on the driver to pick the
first encoding that decodes cleanly, then do exactly one distributed read
with that charset. latin1 (and the terminal replace step) never fails, so
the fallback chain always terminates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ENCODING_CHAIN = ("utf-8", "utf-8-sig", "cp1252", "latin1")
_SNIFF_BYTES = 1 << 20  # 1 MiB prefix is plenty to catch non-UTF-8 bytes

# Spark's CSV reader only accepts a small charset whitelist (no cp1252).
# iso-8859-1 maps every byte 1:1 onto U+0000..U+00FF, so reading with it
# preserves the raw bytes; cp1252 then differs only in 0x80-0x9F, which a
# single JVM-side translate() fixes up — fully distributed, no transcode
# pass over the input.
_CP1252_FIXUP = [
    (0x80, "€"), (0x82, "‚"), (0x83, "ƒ"), (0x84, "„"),
    (0x85, "…"), (0x86, "†"), (0x87, "‡"), (0x88, "ˆ"),
    (0x89, "‰"), (0x8A, "Š"), (0x8B, "‹"), (0x8C, "Œ"),
    (0x8E, "Ž"), (0x91, "‘"), (0x92, "’"), (0x93, "“"),
    (0x94, "”"), (0x95, "•"), (0x96, "–"), (0x97, "—"),
    (0x98, "˜"), (0x99, "™"), (0x9A, "š"), (0x9B, "›"),
    (0x9C, "œ"), (0x9E, "ž"), (0x9F, "Ÿ"),
]
_CP1252_FROM = "".join(chr(b) for b, _ in _CP1252_FIXUP)
_CP1252_TO = "".join(c for _, c in _CP1252_FIXUP)


#: marker file a cp1252 sink drops into its output directory, holding
#: the charset name. cp1252 bytes can also be valid UTF-8 ('Â\xa0' is
#: C2 A0), so no prefix sniff can tell them apart; the writer's word can.
#: Spark's readers skip '_'-prefixed files.
CHARSET_MARKER = "_CHARSET"

#: driver-side sniff samples at most this many parts of a directory; a
#: Spark output's parts share one writer charset, so a large cap only
#: guards against pathological all-ASCII prefixes hiding the encoding
_SNIFF_MAX_PARTS = 256


def sniff_encoding(path: str, sniff_bytes: int = _SNIFF_BYTES) -> str:
    """Pick the first encoding in the chain that decodes a file prefix.

    Accepts a single file or a Spark-written output directory. A
    directory's :data:`CHARSET_MARKER` names the charset outright and is
    trusted before any sniffing. Otherwise a prefix of every data part
    (up to ``_SNIFF_MAX_PARTS``) is sampled and the chosen encoding must
    decode all of them — one
    writer produced the parts with one charset, but any individual part
    may be ASCII-only, so sniffing just the first file could pick an
    encoding that breaks on a later part.

    Prefixes cut mid-file are decoded incrementally (``final=False``):
    a 1 MiB boundary landing inside a multibyte UTF-8 sequence must not
    falsely reject utf-8 and mojibake the whole read."""
    import codecs
    import glob
    import os

    files = [path]
    if os.path.isdir(path):
        try:
            with open(os.path.join(path, CHARSET_MARKER)) as fh:
                marked = fh.read().strip()
            if marked in ENCODING_CHAIN:
                return marked
        except OSError:
            pass
        files = sorted(
            set(
                glob.glob(os.path.join(path, "part-*"))
                + glob.glob(os.path.join(path, "*.csv"))
            )
        )[:_SNIFF_MAX_PARTS] or [path]
    prefixes = []  # (bytes, is_whole_file)
    for f in files:
        try:
            with open(f, "rb") as fh:
                # EOF is detected by probing one byte PAST what we keep:
                # inferring wholeness from len(data) misclassifies a file
                # of exactly sniff_bytes+1 as a truncated prefix, decoding
                # its genuinely-final tail with final=False (lenient)
                data = fh.read(sniff_bytes + 1)
                probe = fh.read(1)
                prefixes.append((data, not probe))
        except OSError:
            continue
    if not prefixes:
        return ENCODING_CHAIN[0]
    for enc in ENCODING_CHAIN:
        try:
            for prefix, is_whole in prefixes:
                codecs.getincrementaldecoder(enc)("strict").decode(
                    prefix, final=is_whole
                )
            return enc
        except (UnicodeDecodeError, ValueError):
            continue
    return "latin1"  # decodes any byte sequence (≈ decode-with-replace)


def read_csv_with_fallback(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    encoding: str | None = None,
    **options,
) -> DataFrame:
    """One distributed CSV read with a sniffed (or forced) charset.

    An explicit schema skips Spark's inference scan; pass one for any
    production read.
    """
    enc = encoding or sniff_encoding(path)
    cp1252_fixup = False
    if enc in ("cp1252", "latin1"):
        # byte-preserving read; cp1252 additionally remaps 0x80-0x9F below
        cp1252_fixup = enc == "cp1252"
        enc = "iso-8859-1"
    reader = (
        spark.read.option("header", "true")
        .option("encoding", enc)
        .option("multiLine", "false")
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(path)
    if cp1252_fixup:
        df = df.select(
            *[
                F.translate(F.col(f.name), _CP1252_FROM, _CP1252_TO).alias(f.name)
                if isinstance(f.dataType, T.StringType)
                else F.col(f.name)
                for f in df.schema.fields
            ]
        )
        if schema is None:
            # header-derived column names took the same byte-preserving
            # charset, so names carrying 0x80-0x9F bytes need the same
            # fixup (an explicit schema already supplies correct names)
            name_fix = str.maketrans(_CP1252_FROM, _CP1252_TO)
            df = df.toDF(*[n.translate(name_fix) for n in df.columns])
    return df
