"""Conversion round-trip tests for the Discogs XML source (SURVEY.md §5.2-4).

Fixture covers every branch the reference handles (FIXTURES.md §B):
optional anv/join null paths (main.rs:718-741), missing master_id
(:557-560), &amp; unescape (:596,619), empty tags (:518-520), skipped
subtrees (main.rs:758-917), unknown-attr-on-label tolerance (:662);
negative fixtures mirror the reference's panics (:496-500, :549-554,
:826-830).
"""

from __future__ import annotations

import gzip
import os

import pytest

from discogs_xml_to_parquet_spark.sources import discogs_xml as dx
from discogs_xml_to_parquet_spark.sources.fixture import RELEASES_XML as FIXTURE

EXPECTED = {
    1: {
        "status": "Accepted",
        "title": "First Album",
        "artists": [
            ("10", "Alpha & Beta", "A&B", "feat."),
            ("11", "Gamma", None, None),
        ],
        "genres": ["Rock", "R&B"],
        "styles": ["Indie & Alt"],
        "labels": [
            ("100", "CAT-1", "LabelOne"),
            ("101", "CAT-2", "LabelTwo"),
        ],
        "is_main_release": True,
        "master_id": 555,
    },
    2: {
        "status": "Draft",
        "title": "Second",
        "artists": [],
        "genres": [],
        "styles": [],
        "labels": [],
        "is_main_release": False,
        "master_id": 556,
    },
    3: {
        "status": "Deleted",
        "title": "Third",
        "artists": [],
        "genres": ["Jazz"],
        "styles": [],
        "labels": [],
        "is_main_release": None,
        "master_id": None,
    },
}


@pytest.fixture(scope="module")
def fixture_gz(tmp_path_factory):
    d = tmp_path_factory.mktemp("discogs")
    p = d / "releases.xml.gz"
    with gzip.open(p, "wt", encoding="utf-8") as f:
        f.write(FIXTURE)
    return str(p)


def _check_rows(rows):
    assert len(rows) == 3
    by_id = {r["id"]: r for r in rows}
    for rid, exp in EXPECTED.items():
        r = by_id[rid]
        assert r["status"] == exp["status"]
        assert r["title"] == exp["title"]
        assert [tuple(a) for a in r["artists"]] == exp["artists"], rid
        assert list(r["genres"]) == exp["genres"]
        assert list(r["styles"]) == exp["styles"]
        assert [tuple(l) for l in r["labels"]] == exp["labels"]
        assert r["is_main_release"] == exp["is_main_release"]
        assert r["master_id"] == exp["master_id"]


def test_native_read(spark, fixture_gz):
    df = dx.read_releases(spark, fixture_gz)
    assert [f.name for f in df.schema.fields] == [f.name for f in dx.OUTPUT_SCHEMA.fields]
    _check_rows([r.asDict() for r in df.collect()])


def test_strict_read(spark, fixture_gz):
    df = dx.read_releases_strict(spark, fixture_gz)
    _check_rows([r.asDict() for r in df.collect()])


def test_roundtrip_parquet(spark, fixture_gz, tmp_path):
    out = str(tmp_path / "releases.parquet")
    dx.convert(spark, fixture_gz, out, single_file=True)
    back = spark.read.parquet(out)
    # schema parity with SURVEY.md §1.2 (types, not just names)
    got = {f.name: f.dataType.simpleString() for f in back.schema.fields}
    assert got == {
        "id": "bigint",
        "status": "string",
        "title": "string",
        "artists": "array<struct<id:string,name:string,anv:string,join:string>>",
        "genres": "array<string>",
        "styles": "array<string>",
        "labels": "array<struct<id:string,cat_no:string,name:string>>",
        "is_main_release": "boolean",
        "master_id": "bigint",
    }
    _check_rows([r.asDict() for r in back.collect()])
    # single-file parity with the reference's one output file (main.rs:223)
    import glob
    assert len(glob.glob(out + "/part-*")) == 1


def _strict_rows(spark, xml: str):
    import io

    return list(dx._parse_stream(xml.encode()))


def test_strict_rejects_unknown_element(spark):
    xml = '<releases>\n<release id="9" status="Draft"><bogus>x</bogus></release>\n</releases>'
    with pytest.raises(ValueError, match="unknown element"):
        _strict_rows(spark, xml)


def test_strict_rejects_unknown_attribute(spark):
    xml = '<releases>\n<release id="9" status="Draft" foo="bar"><title>t</title></release>\n</releases>'
    with pytest.raises(ValueError, match="unknown attribute"):
        _strict_rows(spark, xml)


def test_strict_rejects_malformed_bool(spark):
    xml = ('<releases>\n<release id="9" status="Draft">'
           '<master_id is_main_release="maybe">1</master_id></release>\n</releases>')
    with pytest.raises(ValueError, match="malformed is_main_release"):
        _strict_rows(spark, xml)


def test_strict_rejects_master_id_without_flag_attr(spark):
    """Reference panics when <master_id> lacks is_main_release
    (main.rs parse_master_id_attributes else branch; ADVICE r1)."""
    xml = ('<releases>\n<release id="9" status="Draft">'
           '<master_id>1</master_id></release>\n</releases>')
    with pytest.raises(ValueError, match="missing is_main_release"):
        _strict_rows(spark, xml)


def test_strict_rejects_empty_artist_id_and_name(spark):
    """empty->null applies only to anv/join (main.rs:721-740); an empty
    <id> or <name> hits expect_text on an End event and errors
    (ADVICE r1)."""
    base = ('<releases>\n<release id="9" status="Draft">'
            '<artists><artist>{fields}</artist></artists></release>\n</releases>')
    with pytest.raises(ValueError, match="empty <id>"):
        _strict_rows(spark, base.format(fields="<id></id><name>n</name>"))
    with pytest.raises(ValueError, match="empty <name>"):
        _strict_rows(spark, base.format(fields="<id>1</id><name></name>"))
    # empty anv/join still null, not an error
    rows = _strict_rows(
        spark,
        base.format(fields="<id>1</id><name>n</name><anv></anv><join></join>"),
    )
    assert rows[0][3] == [("1", "n", None, None)]


def test_connected_components_raises_on_non_convergence(spark):
    """A path graph of diameter > max_iter must raise, not silently
    return split components (ADVICE r1)."""
    from discogs_xml_to_parquet_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)
    # and with enough rounds it converges to a single component
    comp = connected_components(edges, max_iter=15)
    assert {r.comp for r in comp.collect()} == {0}


def test_strict_skips_empty_unknown_tag(spark):
    xml = ('<releases>\n<release id="9" status="Draft">'
           '<title>t</title><dummy/></release>\n</releases>')
    rows = _strict_rows(spark, xml)
    assert rows[0][0] == 9


def test_strict_skips_attributed_empty_unknown_tag(spark):
    """main.rs:518-520: is_empty_tag runs BEFORE the name dispatch, so
    an empty unknown tag is skipped EVEN WITH attributes -- a new
    self-closing attributed field in a future dump converts under the
    reference, and must convert here (review r11: the skip previously
    required an attribute-free tag and falsely rejected this)."""
    xml = ('<releases>\n<release id="9" status="Draft">'
           '<title>t</title><dummy foo="1" bar="x"/></release>\n</releases>')
    rows = _strict_rows(spark, xml)
    assert rows[0][0] == 9


def test_strict_skips_empty_master_id_tag(spark):
    """main.rs:518-520 skips an EMPTY <master_id .../> before dispatch
    (attributes unexamined): both columns stay null, exactly the
    no-master_id case. Previously this crashed on int(None) -- a raw
    TypeError outside the lane's ValueError rejection vocabulary."""
    xml = ('<releases>\n<release id="9" status="Draft">'
           '<title>t</title><master_id is_main_release="true"/>'
           '</release>\n</releases>')
    rows = _strict_rows(spark, xml)
    assert rows[0][0] == 9
    assert rows[0][-1] is None      # master_id null
    assert rows[0][-2] is None      # is_main_release null


def test_strict_rejects_empty_genre_and_style(spark):
    """The reference rejects BOTH empty spellings of <genre>/<style>
    (<genre/> fails expect_start_of; <genre></genre> hits expect_text
    on the End event, main.rs:593/616) -- unlike <dummy/>, iterparse
    has enough information to mirror the rejection, and previously
    accepted genres=[''] instead."""
    xml = ('<releases>\n<release id="9" status="Draft">'
           '<genres><genre></genre></genres></release>\n</releases>')
    with pytest.raises(ValueError, match="empty <genre>"):
        _strict_rows(spark, xml)
    xml = ('<releases>\n<release id="9" status="Draft">'
           '<styles><style/></styles></release>\n</releases>')
    with pytest.raises(ValueError, match="empty <style>"):
        _strict_rows(spark, xml)


def test_strict_rejects_non_empty_label(spark):
    """main.rs:637 expect_empty(\"label\"): a <label> carrying text or
    children is not an Empty event and errors in the reference;
    previously the content was silently dropped."""
    xml = ('<releases>\n<release id="9" status="Draft">'
           '<labels><label id="1" name="n">stray text</label></labels>'
           '</release>\n</releases>')
    with pytest.raises(ValueError, match="non-empty <label>"):
        _strict_rows(spark, xml)


def test_list_input_files_raises_on_empty_listing(tmp_path):
    """A typo'd glob or empty directory must raise, not flow into an
    empty DataFrame that OVERWRITES the output with an empty dataset
    (the native lane raises PATH_NOT_FOUND for the same typo). The
    streaming reader opts out: an initially-empty drop directory is a
    stream with zero batches."""
    from discogs_xml_to_parquet_spark.sources.discogs_xml import (
        _list_input_files,
    )

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="no input files"):
        _list_input_files(str(empty))
    with pytest.raises(ValueError, match="no input files"):
        _list_input_files(str(tmp_path / "nope" / "*.xml.gz"))
    assert _list_input_files(str(empty), allow_empty=True) == []


def test_list_input_files_skips_hidden_and_keeps_scheme(tmp_path):
    """Directory listings must (a) skip Hadoop-convention hidden files
    (_SUCCESS markers, .crc sidecars -- ADVICE r6: the pyarrow listing
    kept them and the XML parser then failed the whole job) and (b)
    preserve the input URI's scheme+authority on every listed path
    (ADVICE r6: FileInfo.path drops the scheme, so an hdfs:// listing
    silently resolved as LOCAL paths on executors)."""
    from discogs_xml_to_parquet_spark.sources.fixture import (
        write_synthetic_releases,
    )

    d = write_synthetic_releases(str(tmp_path / "lst"), n_releases=50,
                                 n_files=2)
    (tmp_path / "lst" / "_SUCCESS").write_bytes(b"")
    (tmp_path / "lst" / ".releases-0.xml.gz.crc").write_bytes(b"junk")

    plain = dx._list_input_files(d)
    assert [os.path.basename(p) for p in plain] == [
        "releases-0.xml.gz", "releases-1.xml.gz"]

    # scheme'd input -> every listed path keeps the scheme (round-trips
    # through the executor-side FileSystem.from_uri resolution)
    uris = dx._list_input_files("file://" + d)
    assert all(u.startswith("file:///") for u in uris), uris
    assert [os.path.basename(u) for u in uris] == [
        "releases-0.xml.gz", "releases-1.xml.gz"]
    n = sum(1 for _ in dx._parse_file_stream(uris[0]))
    assert n == 25

    # trailing slash on the directory URI must not break the prefix math
    assert dx._list_input_files("file://" + d + "/") == uris


def test_strict_read_ignores_success_marker(spark, tmp_path):
    """End-to-end: a _SUCCESS marker in the input directory must not
    fail the strict job (it previously flowed into the gzip/XML parser)."""
    from discogs_xml_to_parquet_spark.sources.fixture import (
        write_synthetic_releases,
    )

    d = write_synthetic_releases(str(tmp_path / "mk"), n_releases=40,
                                 n_files=2)
    (tmp_path / "mk" / "_SUCCESS").write_bytes(b"")
    assert dx.read_releases_strict(spark, d).count() == 40


def test_multi_file_parallel_scan(spark, tmp_path):
    """A directory of N .xml.gz files must scan as N tasks (gzip is
    unsplittable; parallelism comes from file count -- SURVEY §4.3)."""
    from pyspark.sql import functions as F

    from discogs_xml_to_parquet_spark.sources.fixture import (
        write_synthetic_releases,
    )

    d = write_synthetic_releases(str(tmp_path / "multi"), n_releases=200,
                                 n_files=4)
    df = dx.read_releases(spark, d)
    assert df.count() == 200
    n_parts = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert n_parts == 4
    # every 4th release has no master_id -> both columns null
    nulls = df.filter(F.col("master_id").isNull()).count()
    assert nulls == 50


def test_strict_stream_memory_is_flat(tmp_path):
    """The strict lane's per-file parser must stream: parsing a file
    many times larger than its io buffers may not allocate memory
    proportional to the file (VERDICT r5 'what's wrong' #3 -- the old
    binaryFiles spelling held the whole gzipped file as one byte
    array). Pin with tracemalloc: peak PYTHON allocation while
    draining a ~10 MB-uncompressed corpus file stays under 2 MB."""
    import tracemalloc

    from discogs_xml_to_parquet_spark.sources.fixture import (
        write_synthetic_releases,
    )

    d = write_synthetic_releases(str(tmp_path / "big"), n_releases=30_000,
                                 n_files=1)
    fp = os.path.join(d, "releases-0.xml.gz")
    uncompressed = 0
    with gzip.open(fp, "rb") as g:
        while chunk := g.read(1 << 20):
            uncompressed += len(chunk)
    assert uncompressed > 8_000_000  # the corpus is genuinely large

    # warm pass: one-time module imports (pyarrow.fs alone allocates
    # ~2 MB of importlib metadata) must not be billed to the parser
    next(iter(dx._parse_file_stream(fp)))
    tracemalloc.start()
    n = sum(1 for _ in dx._parse_file_stream(fp))
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert n == 30_000
    assert peak < 1_000_000, f"peak {peak} bytes -- parser is not streaming"


def test_strict_matches_native_at_volume(spark, tmp_path):
    """Native JVM path and strict Python path must agree row-for-row on
    the synthetic corpus (cross-validation of the two parsers)."""
    from discogs_xml_to_parquet_spark.sources.fixture import (
        write_synthetic_releases,
    )

    d = write_synthetic_releases(str(tmp_path / "vol"), n_releases=300,
                                 n_files=2)
    native = {tuple(map(str, r)) for r in dx.read_releases(spark, d).collect()}
    strict = {
        tuple(map(str, r))
        for r in dx.read_releases_strict(spark, d + "/*.xml.gz").collect()
    }
    assert native == strict


def test_permissive_quarantines_bad_rows(spark, tmp_path):
    """PERMISSIVE lane: malformed releases become corrupt-record rows;
    good rows still parse -- one bad row must not kill the ingest."""
    p = tmp_path / "mixed.xml"
    p.write_text(
        '<releases>\n'
        '<release id="1" status="Accepted"><title>Good</title></release>\n'
        '<release id="2" status="Draft">'
        '<master_id is_main_release="maybe">1</master_id></release>\n'
        '</releases>'
    )
    df = dx.read_releases_permissive(spark, str(p))
    rows = {r["id"]: r for r in df.collect()}
    good = rows[1]
    assert good["title"] == "Good" and good["corrupt_record"] is None
    bad = [r for r in df.collect() if r["corrupt_record"] is not None]
    assert len(bad) == 1
    assert "maybe" in bad[0]["corrupt_record"]


def test_native_failfast_malformed_bool(spark, tmp_path):
    p = tmp_path / "bad.xml"
    p.write_text('<releases>\n<release id="9" status="Draft">'
                 '<master_id is_main_release="maybe">1</master_id></release>\n</releases>')
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.base import PySparkException

    with pytest.raises((PySparkException, Py4JJavaError)):
        dx.read_releases(spark, str(p)).collect()


def test_two_phase_cc_matches_min_label(spark):
    """large-star/small-star must produce the same component labeling
    as min-label propagation on path, star, clique, and random graphs
    (incl. the deep-path case where min-label needs diameter rounds but
    two-phase needs O(log^2 d))."""
    import random

    from discogs_xml_to_parquet_spark.operators.graph import (
        connected_components,
        connected_components_two_phase,
    )

    rng = random.Random(7)
    cases = {
        "path": [(i, i + 1) for i in range(12)],
        "star": [(0, i) for i in range(1, 10)],
        "clique": [(i, j) for i in range(6) for j in range(i + 1, 6)],
        "random": [
            (rng.randrange(40), rng.randrange(40)) for _ in range(30)
        ],
        "two_comps": [(0, 1), (1, 2), (10, 11), (11, 12), (12, 13)],
        # shared member, disjoint parent/member sets: the state that a
        # parent-and-member convergence check alone would wrongly call
        # a fixpoint (node 3 has two parents; 1 and 2 must merge)
        "shared_member": [(1, 3), (2, 3)],
    }
    from discogs_xml_to_parquet_spark.operators.graph import (
        connected_components_auto,
    )

    for name, pairs in cases.items():
        pairs = [(a, b) for a, b in pairs if a != b]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        base = {
            (r.id, r.comp) for r in connected_components(edges).collect()
        }
        two = {
            (r.id, r.comp)
            for r in connected_components_two_phase(edges).collect()
        }
        assert two == base, f"{name}: {sorted(two)} != {sorted(base)}"
        assert len(two) > 0
        # the size dispatcher must be invisible to results on BOTH of
        # its paths: min-label (every fixture is under the default
        # threshold) and the forced two-phase path (threshold 0)
        auto_small = {
            (r.id, r.comp)
            for r in connected_components_auto(edges).collect()
        }
        auto_large = {
            (r.id, r.comp)
            for r in connected_components_auto(
                edges, small_graph_edges=0
            ).collect()
        }
        assert auto_small == base, f"{name} (auto/min-label path)"
        assert auto_large == base, f"{name} (auto/two-phase path)"


def test_two_phase_cc_keeps_self_loop_nodes(spark):
    """A node whose only edge is a self-loop must still appear (as its
    own component) -- both CC variants, same output."""
    from discogs_xml_to_parquet_spark.operators.graph import (
        connected_components,
        connected_components_two_phase,
    )

    edges = spark.createDataFrame(
        [(5, 5), (1, 2)], "src long, dst long"
    )
    base = {(r.id, r.comp) for r in connected_components(edges).collect()}
    two = {
        (r.id, r.comp)
        for r in connected_components_two_phase(edges).collect()
    }
    assert two == base == {(5, 5), (1, 1), (2, 1)}


def test_cli_strict_from_any_cwd(tmp_path):
    """The strict lane's parser runs in executor-side Python workers,
    which must import this package even when the CLI starts outside
    the repo root with the package on sys.path but not on PYTHONPATH."""
    import subprocess
    import sys
    from pathlib import Path

    import pyarrow.parquet as pq

    repo = str(Path(__file__).resolve().parent.parent)
    src = tmp_path / "releases.xml"
    src.write_text(FIXTURE)
    out = tmp_path / "out"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    code = (
        f"import sys; sys.path.insert(0, {repo!r}); "
        "from discogs_xml_to_parquet_spark.sources.discogs_xml import main; "
        f"main([{str(src)!r}, {str(out)!r}, '--strict'])"
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    ids = sorted(pq.read_table(out).column("id").to_pylist())
    assert ids == sorted(EXPECTED)
