"""Discogs `releases` XML -> Parquet: the reference's entire surface.

The reference (/root/reference/src/main.rs) is a single-threaded Rust
streaming converter: gzip -> quick-xml pull events -> recursive-descent
field extraction -> Arrow builders -> Snappy Parquet (main.rs:436-473).
This module re-expresses it Spark-first, twice:

1. ``read_releases`` (default): Spark 4's built-in XML data source with
   an explicit schema (never inferred -- main.rs:192-217 declares it
   statically) and ``mode=FAILFAST`` mirroring the reference's
   structural `expect_*` panics (main.rs:80-157). This is the scale
   path: the JVM StAX parser runs inside the scan task, gzip is
   decompressed by Hadoop codecs, and a directory of ``*.xml.gz``
   files parallelizes one-file-per-task (gzip being unsplittable, the
   same single-stream-per-file behavior the reference has, times N
   files).

2. ``read_releases_strict``: a pure-PySpark fallback parser (a path
   RDD + incremental pyarrow.fs streams + stdlib ``xml.etree.iterparse``
   over the gzip stream) that reproduces the reference's *exact* rejection
   semantics, which the native source is too lenient for:
   unknown child element of <release> (main.rs:549-554), unknown
   attribute on <release> (main.rs:496-500), malformed
   ``is_main_release`` (main.rs:826-830). One Python task per file --
   identical parallelism to the native path for .gz input.

Output schema (SURVEY.md §1.2; reference schema at main.rs:192-217):
``id long, status string, title string, artists array<struct<id,name,
anv,join>>, genres array<string>, styles array<string>, labels
array<struct<id,cat_no,name>>, is_main_release boolean, master_id
long``. Arrow ``UInt32`` ids widen to LongType (no unsigned 32-bit in
Spark; IntegerType would overflow at 2^31).

Semantics reproduced (fixture coverage in tests/test_discogs_xml.py):
- absent <master_id> -> both master_id and is_main_release null
  (main.rs:557-560)
- empty <anv></anv> / <join></join> -> null struct fields
  (main.rs:721-728, 733-740)
- artist <role>/<tracks> children dropped (main.rs:742-749)
- label attributes id/catno/name kept, unknown attrs ignored
  (main.rs:626-668, :662)
- &amp; entity unescape in genres/styles (main.rs:596, 619) -- native
  to any real XML parser; the reference hand-rolls it because
  quick-xml hands it raw bytes.
  DELIBERATE DIVERGENCE (ADVICE r1): the reference unescapes ONLY
  '&amp;' and ONLY in genres/styles -- titles, artist name/anv/join
  are written with the raw '&amp;' bytes, and other entities (&lt;,
  &gt;, ...) stay raw even in genres/styles. Both Spark lanes use real
  XML parsers, which unescape every entity in every field; a title
  'Alpha &amp; Beta' converts to 'Alpha & Beta' here but stays
  'Alpha &amp; Beta' in the reference's parquet. We treat the
  reference's behavior as a quick-xml artifact, not a spec: correct
  XML decoding wins over byte parity (re-escaping '&'->'&amp;' in 4
  fields would restore byte parity if a consumer ever needs it)
- absent list elements -> empty (non-null) arrays: the reference's
  per-row builder close appends empty lists (main.rs:391-403)
- skipped subtrees (images, extraartists, formats, country,
  data_quality, tracklist, videos, released, companies, notes,
  identifiers -- main.rs:758-917) are projection pushdown: the native
  path omits them from the read schema so the StAX parser skips them;
  the strict path consumes-and-discards like the reference.
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- schemas -----------------------------------------------------------

ARTIST_STRUCT = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("anv", T.StringType()),
    T.StructField("join", T.StringType()),
])

LABEL_STRUCT = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("cat_no", T.StringType()),
    T.StructField("name", T.StringType()),
])

OUTPUT_SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), nullable=False),
    T.StructField("status", T.StringType(), nullable=False),
    T.StructField("title", T.StringType(), nullable=False),
    T.StructField("artists", T.ArrayType(ARTIST_STRUCT), nullable=False),
    T.StructField("genres", T.ArrayType(T.StringType()), nullable=False),
    T.StructField("styles", T.ArrayType(T.StringType()), nullable=False),
    T.StructField("labels", T.ArrayType(LABEL_STRUCT), nullable=False),
    T.StructField("is_main_release", T.BooleanType(), nullable=True),
    T.StructField("master_id", T.LongType(), nullable=True),
])

# Read schema for the native XML source: attributes surface with an `_`
# prefix; repeated children surface as a wrapper struct holding an array.
XML_READ_SCHEMA = T.StructType([
    T.StructField("_id", T.LongType()),
    T.StructField("_status", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("artists", T.StructType([
        T.StructField("artist", T.ArrayType(T.StructType([
            T.StructField("id", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("anv", T.StringType()),
            T.StructField("join", T.StringType()),
        ]))),
    ])),
    T.StructField("genres", T.StructType([
        T.StructField("genre", T.ArrayType(T.StringType())),
    ])),
    T.StructField("styles", T.StructType([
        T.StructField("style", T.ArrayType(T.StringType())),
    ])),
    T.StructField("labels", T.StructType([
        T.StructField("label", T.ArrayType(T.StructType([
            T.StructField("_id", T.StringType()),
            T.StructField("_catno", T.StringType()),
            T.StructField("_name", T.StringType()),
        ]))),
    ])),
    T.StructField("master_id", T.StructType([
        T.StructField("_VALUE", T.LongType()),
        T.StructField("_is_main_release", T.BooleanType()),
    ])),
])


def _to_output(df: DataFrame, *extra: "F.Column") -> DataFrame:
    """Native-read frame -> OUTPUT_SCHEMA (+ passthrough columns).
    Empty string fields from empty elements (<anv></anv>) become null,
    matching main.rs:721-728."""
    empty_artists = F.array().cast(T.ArrayType(ARTIST_STRUCT))
    empty_labels = F.array().cast(T.ArrayType(LABEL_STRUCT))
    empty_str = F.array().cast("array<string>")
    return df.select(
        *extra,
        F.col("_id").alias("id"),
        F.col("_status").alias("status"),
        F.col("title"),
        F.coalesce(
            F.transform(
                "artists.artist",
                lambda a: F.struct(
                    a["id"].alias("id"),
                    a["name"].alias("name"),
                    F.nullif(a["anv"], F.lit("")).alias("anv"),
                    F.nullif(a["join"], F.lit("")).alias("join"),
                ),
            ),
            empty_artists,
        ).alias("artists"),
        F.coalesce(F.col("genres.genre"), empty_str).alias("genres"),
        F.coalesce(F.col("styles.style"), empty_str).alias("styles"),
        F.coalesce(
            F.transform(
                "labels.label",
                lambda l: F.struct(
                    l["_id"].alias("id"),
                    l["_catno"].alias("cat_no"),
                    l["_name"].alias("name"),
                ),
            ),
            empty_labels,
        ).alias("labels"),
        F.col("master_id._is_main_release").alias("is_main_release"),
        F.col("master_id._VALUE").alias("master_id"),
    )


def read_releases(spark: SparkSession, path: str) -> DataFrame:
    """Scale path: native XML source, explicit schema, FAILFAST (the
    quarantine lane is read_releases_permissive)."""
    raw = (
        spark.read.format("xml")
        .option("rowTag", "release")
        .option("mode", "FAILFAST")
        .schema(XML_READ_SCHEMA)
        .load(path)
    )
    return _to_output(raw)


def read_releases_permissive(spark: SparkSession, path: str) -> DataFrame:
    """The softer lane the reference lacks (SURVEY §1.3): malformed
    releases land as null rows with the raw XML captured in
    `_corrupt_record` instead of failing the job -- at 100 TB one bad
    release must not kill a multi-hour ingest. Returns the output
    columns plus `corrupt_record` (null for good rows); callers split
    good/bad with a filter and route bad rows to a quarantine sink."""
    schema = T.StructType(
        XML_READ_SCHEMA.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    raw = (
        spark.read.format("xml")
        .option("rowTag", "release")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
        .load(path)
    )
    return _to_output(raw, F.col("_corrupt_record").alias("corrupt_record"))


# --- strict fallback parser -------------------------------------------

CONSUMED = {"title", "genres", "styles", "artists", "labels", "master_id"}
SKIPPED = {
    "images", "extraartists", "formats", "country", "data_quality",
    "tracklist", "videos", "released", "companies", "notes", "identifiers",
}
ARTIST_CONSUMED = {"id", "name", "anv", "join"}
ARTIST_DROPPED = {"role", "tracks"}  # main.rs:742-749


def _parse_release_elem(elem) -> tuple:
    """One <release> Element -> output row tuple, with the reference's
    rejection semantics (cited per check)."""
    attrs = dict(elem.attrib)
    rid = attrs.pop("id", None)
    status = attrs.pop("status", None)
    if attrs:  # main.rs:496-500: unknown attribute on <release> panics
        raise ValueError(f"unknown attribute on <release>: {sorted(attrs)}")
    if rid is None or status is None:
        raise ValueError("<release> missing id/status attribute")

    title = None
    artists: list[tuple] = []
    genres: list[str] = []
    styles: list[str] = []
    labels: list[tuple] = []
    is_main_release = None
    master_id = None

    for child in elem:
        tag = child.tag
        if tag in SKIPPED:  # main.rs:758-917: consume-and-discard
            continue
        if tag not in CONSUMED:
            # main.rs:518-520 skips empty unknown tags -- the
            # is_empty_tag check runs BEFORE the name dispatch, so
            # attributes do NOT make an empty tag rejectable
            # (<dummy foo="1"/> converts in the reference); :549-554
            # panics on non-empty unknown elements. Known divergence
            # (ADVICE r1): ElementTree cannot distinguish
            # <dummy></dummy> from <dummy/>, so a content-free
            # unknown Start/End pair is accepted here while the
            # reference (which sees the Start event) panics -- an
            # inherent iterparse limitation.
            if len(child) == 0 and not (child.text or "").strip():
                continue
            raise ValueError(f"unknown element in <release>: <{tag}>")
        if tag == "title":
            title = child.text or ""
        elif tag == "genres":
            for g in child:
                if g.tag != "genre":  # main.rs:580-601 expects only <genre>
                    raise ValueError(f"unknown element in <genres>: <{g.tag}>")
                if g.text is None:
                    # the reference rejects BOTH empty spellings
                    # (<genre/> fails expect_start_of, <genre></genre>
                    # hits expect_text on the End event, main.rs:593)
                    # -- unlike <dummy/>, no iterparse ambiguity: an
                    # empty genre is rejectable either way
                    raise ValueError("empty <genre> in <genres>")
                genres.append(g.text)
        elif tag == "styles":
            for s in child:
                if s.tag != "style":  # main.rs:603-624 expects only <style>
                    raise ValueError(f"unknown element in <styles>: <{s.tag}>")
                if s.text is None:  # main.rs:616 expect_text, as <genre>
                    raise ValueError("empty <style> in <styles>")
                styles.append(s.text)
        elif tag == "labels":
            for lab in child:
                if lab.tag != "label":
                    raise ValueError(f"unknown element in <labels>: <{lab.tag}>")
                if len(lab) or (lab.text or "").strip():
                    # main.rs:637 expect_empty("label"): a <label> with
                    # text or children is not an Empty event and errors
                    # (the content-free <label></label> spelling stays
                    # accepted -- the documented iterparse ambiguity)
                    raise ValueError("non-empty <label> in <labels>")
                a = lab.attrib  # unknown attrs silently ignored, main.rs:662
                labels.append((a.get("id"), a.get("catno"), a.get("name")))
        elif tag == "artists":
            for art in child:
                if art.tag != "artist":
                    raise ValueError(f"unknown element in <artists>: <{art.tag}>")
                aid = name = anv = join = None
                for f in art:
                    if f.tag in ARTIST_DROPPED:
                        continue
                    if f.tag not in ARTIST_CONSUMED:
                        raise ValueError(
                            f"unknown element in <artist>: <{f.tag}>")
                    # empty->null applies ONLY to anv/join
                    # (main.rs:721-728, 733-740); an empty <id>/<name>
                    # hits expect_text on an End event in the reference
                    # and errors (ADVICE r1) -- mirror that here
                    val = f.text if (f.text or "") != "" else None
                    if f.tag == "id":
                        if val is None:
                            raise ValueError("empty <id> in <artist>")
                        aid = val
                    elif f.tag == "name":
                        if val is None:
                            raise ValueError("empty <name> in <artist>")
                        name = val
                    elif f.tag == "anv":
                        anv = val
                    else:
                        join = val
                artists.append((aid, name, anv, join))
        elif tag == "master_id":
            if len(child) == 0 and child.text is None:
                # main.rs:518-520: an EMPTY <master_id .../> is skipped
                # BEFORE dispatch (attributes unexamined), leaving both
                # columns null -- previously this path crashed on
                # int(None). (<master_id></master_id>, which the
                # reference would instead reject inside
                # parse_master_id, is indistinguishable in iterparse --
                # same documented ambiguity class as <dummy/>.)
                continue
            imr = child.attrib.get("is_main_release")
            if imr is None:
                # reference panics when <master_id> lacks the attribute
                # (main.rs parse_master_id_attributes else-branch;
                # ADVICE r1)
                raise ValueError(
                    "<master_id> missing is_main_release attribute")
            if imr == "true":
                is_main_release = True
            elif imr == "false":
                is_main_release = False
            else:  # main.rs:826-830
                raise ValueError(
                    f"malformed is_main_release: {imr!r}")
            master_id = int(child.text)  # main.rs:846 str->u32

    return (int(rid), status, title, artists, genres, styles, labels,
            is_main_release, master_id)


class _PrefixedRaw(io.RawIOBase):
    """Raw stream that replays an already-peeked prefix, then reads from
    the underlying (pyarrow NativeFile or any .read()-able) handle --
    lets us sniff the gzip magic without requiring a seekable stream
    (HDFS/S3 input streams are not)."""

    def __init__(self, head: bytes, f) -> None:
        self._head = head
        self._f = f

    def readable(self) -> bool:  # pragma: no cover - io protocol
        return True

    def readinto(self, b) -> int:
        if self._head:
            n = min(len(b), len(self._head))
            b[:n] = self._head[:n]
            self._head = self._head[n:]
            return n
        chunk = self._f.read(len(b))
        n = len(chunk)
        b[:n] = chunk
        return n


def _iter_release_rows(stream) -> Iterator[tuple]:
    """Stream-parse one releases document from a binary file object;
    O(1 release) memory via iterparse + element eviction, like the
    reference's reused event buffer (main.rs:73-77). Gzip is detected
    by magic bytes, not extension, matching the reference's
    magic-number sniff (main.rs:63-71)."""
    import xml.etree.ElementTree as ET

    head = stream.read(2)
    buffered = io.BufferedReader(_PrefixedRaw(head, stream))
    if head[:2] == b"\x1f\x8b":
        buffered = gzip.GzipFile(fileobj=buffered)  # type: ignore[assignment]
    ctx = ET.iterparse(buffered, events=("start", "end"))
    _, root = next(ctx)  # root <releases> (main.rs:442)
    if root.tag != "releases":
        raise ValueError(f"expected root <releases>, got <{root.tag}>")
    for event, elem in ctx:
        if event == "end" and elem.tag == "release":
            yield _parse_release_elem(elem)
            root.clear()  # evict parsed subtree: keeps memory flat


def _parse_stream(data: bytes) -> Iterator[tuple]:
    """Bytes-input wrapper over `_iter_release_rows` (property tests and
    small fixtures feed raw bytes)."""
    return _iter_release_rows(io.BytesIO(data))


def _parse_file_stream(path: str) -> Iterator[tuple]:
    """Executor-side: open `path` as an INCREMENTAL stream via
    pyarrow.fs (file://, hdfs://, s3:// all resolve) and stream-parse.
    Never materializes the file: memory is O(io buffer + 1 release)
    even for a multi-GB .xml.gz."""
    from pyarrow import fs as pafs

    filesystem, p = pafs.FileSystem.from_uri(path)
    with filesystem.open_input_stream(p) as stream:
        yield from _iter_release_rows(stream)


def _list_input_files(path: str, allow_empty: bool = False) -> list[str]:
    """Driver-side listing (metadata-only) for the strict lane: a file,
    a directory, or a local glob pattern. Remote URIs list via
    pyarrow.fs; glob patterns are supported for local paths (the only
    place the tests/CLI use them).

    An empty listing RAISES by default: a typo'd glob or empty
    directory would otherwise flow into an empty DataFrame and
    overwrite the output with an empty dataset -- silent data loss
    where the native lane raises PATH_NOT_FOUND. The streaming reader
    passes allow_empty=True (an initially-empty drop directory is a
    stream with zero batches, not an error).

    Directory listings return FULL URIs: pyarrow's FileInfo.path drops
    the scheme+authority (an HDFS listing comes back '/dir/f.xml.gz', an
    S3 listing 'bucket/key'), so the original input's scheme+authority
    prefix is re-attached before the paths are shipped to executors --
    otherwise FileSystem.from_uri on the executor would resolve them as
    LOCAL paths. Hidden files ('_'/'.' base-name prefix: _SUCCESS
    markers, .crc sidecars) are skipped, matching Hadoop input-format
    conventions and the lane's previous binaryFiles spelling."""
    import os

    def done(files: list[str]) -> list[str]:
        if not files and not allow_empty:
            raise ValueError(f"no input files under {path!r}")
        return files

    if "*" in path or "?" in path or "[" in path:
        if "://" in path and not path.startswith("file://"):
            raise ValueError(
                "glob patterns in the strict lane are local-only; "
                "pass a directory for remote filesystems"
            )
        import glob as _glob

        return done(sorted(_glob.glob(path.removeprefix("file://"))))
    from pyarrow import fs as pafs

    filesystem, p = pafs.FileSystem.from_uri(path)
    # scheme+authority prefix to re-attach to scheme-less FileInfo.path
    # values: 'hdfs://nn:9000/dir' -> 'hdfs://nn:9000' (p='/dir'),
    # 's3://bucket/dir' -> 's3://' (p='bucket/dir'), local -> ''.
    # Try the raw path first so a ROOT directory ('hdfs://nn:9000/',
    # p='/') still yields its scheme+authority -- rstrip'ing first
    # made the endswith test fail there and shipped scheme-less paths
    # executors would resolve as local.
    norm = path.rstrip("/") or path
    if p and path.endswith(p):
        prefix = path[: -len(p)]
    elif p and norm.endswith(p):
        prefix = norm[: -len(p)]
    else:
        prefix = ""
    info = filesystem.get_file_info(p)
    if info.type == pafs.FileType.Directory:
        sel = pafs.FileSelector(p, recursive=False)
        return done(sorted(
            prefix + f.path for f in filesystem.get_file_info(sel)
            if f.type == pafs.FileType.File
            and not os.path.basename(f.path).startswith(("_", "."))
        ))
    return [path]


def read_releases_strict(spark: SparkSession, path: str) -> DataFrame:
    """Strict path: reference-exact rejection semantics, pure PySpark.

    File paths (not file bytes) are distributed -- one task per file,
    the same per-file parallelism gzip permits the native path -- and
    each task opens its file as an incremental pyarrow.fs stream feeding
    iterparse, so executor memory stays O(1 release) regardless of file
    size (binaryFiles, the previous spelling, materialized the whole
    gzipped file as one byte array per task: an OOM at multi-GB dumps).
    Used for conformance testing and as the fallback when the XML
    source is unavailable.
    """
    paths = _list_input_files(path)
    rdd = spark.sparkContext.parallelize(paths, max(len(paths), 1))
    rows = rdd.flatMap(_parse_file_stream)
    return spark.createDataFrame(rows, OUTPUT_SCHEMA)


def convert(spark: SparkSession, in_path: str, out_path: str,
            strict: bool = False, single_file: bool = False) -> None:
    """The reference's whole program (main.rs:436-473): XML in, Snappy
    Parquet out. Snappy is both the reference's choice (main.rs:219-221)
    and Spark's default.

    ``single_file=True`` coalesces to one part-file for byte-layout
    parity with the reference's single output file (main.rs:223); the
    default keeps one part per input file, which is what you want at
    scale."""
    df = (read_releases_strict if strict else read_releases)(spark, in_path)
    if single_file:
        df = df.coalesce(1)
    df.write.mode("overwrite").parquet(out_path, compression="snappy")


def main(argv: list[str] | None = None) -> None:
    """CLI parity with the reference (main.rs:919-930): exactly two
    positional args, input and output."""
    import argparse

    from discogs_xml_to_parquet_spark.session import get_spark

    p = argparse.ArgumentParser(
        description="Convert Discogs releases XML (.xml/.xml.gz) to Parquet")
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument("--strict", action="store_true",
                   help="reference-exact rejection semantics (Python parser)")
    args = p.parse_args(argv)
    spark = get_spark(app_name="discogs-xml-to-parquet")
    convert(spark, args.input, args.output, strict=args.strict)
    spark.stop()


if __name__ == "__main__":
    main()
