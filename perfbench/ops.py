"""The operations each kind of workload times, called only through the
program's public entry points: ``registry.QUERIES[name](spark, sf_dir)``
and ``sources.discogs_xml.read_releases`` / ``read_releases_strict`` /
``convert``."""

from __future__ import annotations

import time
from pathlib import Path

import check
import inputs
from workloads import ConvertWorkload, QueryWorkload


def _wall(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class QueryOps:
    """A frozen query list over one table set; each timed operation is
    one query forced through the noop sink, so every output column is
    computed and nothing is collected."""

    kind = "query"

    def __init__(self, wl: QueryWorkload, checkout: Path):
        self.wl, self.checkout = wl, checkout
        self.names = list(wl.queries)
        self.sf_dir: Path | None = None

    def describe(self) -> dict:
        return {"queries": self.names, "tables": self.wl.tables}

    def prepare(self, runner) -> None:
        self.sf_dir = inputs.star_tables(self.wl.tables)

    def warm(self, runner) -> None:
        """One untimed pass of the timed operations; a query that fails
        here fails again, counted, in the window."""
        from discogs_xml_to_parquet_spark import registry

        for name in self.names:
            with runner.tracer.span("op", op=name):
                try:
                    df = registry.QUERIES[name](runner.spark, str(self.sf_dir))
                    df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 - reported as failed
                    runner.log_failure(f"warm {name}", e)

    def ops(self) -> list[str]:
        return self.names

    def run(self, runner, name: str, group: str) -> dict:
        from discogs_xml_to_parquet_spark import registry

        sc, tr = runner.spark.sparkContext, runner.tracer
        sc.setJobGroup(group + "-build", f"perfbench build {name}")
        t0 = time.perf_counter()
        with tr.span("build"):
            df = registry.QUERIES[name](runner.spark, str(self.sf_dir))
        t1 = time.perf_counter()
        sc.setJobGroup(group + "-exec", f"perfbench exec {name}")
        with tr.span("exec"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return {"build_s": t1 - t0, "exec_s": t2 - t1, "ok": True}

    def final_checks(self, runner) -> list[dict]:
        """Each query's collected result against its oracle."""
        from discogs_xml_to_parquet_spark import registry

        out = []
        for name in self.names:
            want = check.oracle_fingerprint(self.sf_dir,
                                            registry.ORACLES[name])
            try:
                got = check.spark_fingerprint(
                    registry.QUERIES[name](runner.spark, str(self.sf_dir)))
            except Exception as e:  # noqa: BLE001 - reported as failed
                runner.log_failure(f"check {name}", e)
                got = ((), None, repr(e))
            out.append({"op": name, "ok": got == want,
                        "rows": got[1], "hash": got[2],
                        "oracle_rows": want[1], "oracle_hash": want[2]})
        return out

    def ladder(self, runner) -> dict:
        return {}


class ConvertOps:
    """Two timed operations over one releases corpus: ``convert`` through
    the native lane and through the strict lane. The traced run adds a
    ladder of rungs over the same corpus whose differences give each
    converter layer's self time."""

    kind = "convert"
    LANES = {"convert": False, "convert_strict": True}  # op -> strict

    def __init__(self, wl: ConvertWorkload, checkout: Path):
        self.wl, self.checkout = wl, checkout
        self.corpus: Path | None = None
        self.start_id = 0
        self.in_bytes = 0

    def describe(self) -> dict:
        return {"releases": self.wl.n_releases, "files": self.wl.n_files,
                "start_id": self.start_id, "in_bytes": self.in_bytes}

    def prepare(self, runner) -> None:
        self.corpus, self.start_id = inputs.releases_corpus(
            self.checkout, runner.seed, self.wl.n_releases, self.wl.n_files)
        self.in_bytes = sum(p.stat().st_size
                            for p in self.corpus.glob("*.xml.gz"))
        self.work = runner.work

    def out(self, name: str) -> Path:
        return self.work / name

    def _convert(self, runner, name: str) -> None:
        from discogs_xml_to_parquet_spark.sources.discogs_xml import convert

        convert(runner.spark, str(self.corpus), str(self.out(name)),
                strict=self.LANES[name])

    def warm(self, runner) -> None:
        for name in self.LANES:
            with runner.tracer.span("op", op=name):
                self._convert(runner, name)

    def ops(self) -> list[str]:
        return list(self.LANES)

    def run(self, runner, name: str, group: str) -> dict:
        runner.spark.sparkContext.setJobGroup(group + "-exec",
                                              f"perfbench {name}")
        with runner.tracer.span("exec"):
            wall = _wall(lambda: self._convert(runner, name))
        rows = check.parquet_rows(self.out(name))
        return {"build_s": 0.0, "exec_s": wall,
                "ok": rows == self.wl.n_releases, "out_rows": rows}

    def final_checks(self, runner) -> list[dict]:
        return [
            {**check.check_conversion_full(
                self.out(name), self.wl.n_releases, self.start_id),
             "op": name}
            for name in self.LANES
        ]

    def out_bytes(self, name: str) -> int:
        return sum(p.stat().st_size for p in self.out(name).glob("*.parquet"))

    def ladder(self, runner) -> dict:
        """Rungs timed from outside on the same corpus: text scan
        (gunzip), each lane's reader call alone (build), the native XML
        parse to the read schema, and each lane's output-shaped frame
        through the noop sink. The last rung, the full conversion, is
        the timed passes. Each rung runs twice and keeps the second
        time: the first use of a rung's own code path is slower."""
        from discogs_xml_to_parquet_spark.sources import discogs_xml as dx

        spark, path = runner.spark, str(self.corpus)

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        rungs = {
            "gunzip": lambda: spark.read.text(path).count(),
            "build": lambda: dx.read_releases(spark, path),
            "parse": lambda: noop(
                spark.read.format("xml").option("rowTag", "release")
                .option("mode", "FAILFAST").schema(dx.XML_READ_SCHEMA)
                .load(path)),
            "shape": lambda: noop(dx.read_releases(spark, path)),
            "strict_build": lambda: dx.read_releases_strict(spark, path),
            "strict_parse": lambda: noop(dx.read_releases_strict(spark, path)),
        }
        out = {}
        for name, fn in rungs.items():
            with runner.tracer.span(f"ladder.{name}"):
                _wall(fn)
                out[name] = _wall(fn)
        return out


def make(wl, checkout: Path):
    return (QueryOps if isinstance(wl, QueryWorkload) else ConvertOps)(
        wl, checkout)
