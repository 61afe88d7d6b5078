"""The benchmark's study workloads.

A workload generates its inputs from the seed (pure Python, no Spark),
lists the public-function calls of one pass, and checks the outputs of
the timed passes against the DuckDB oracle outside the timed region.
"""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass

import gen


@dataclass
class Call:
    """One public-function call: `construct` returns the DataFrame (or
    None for an eager call); `execute` runs the action and returns the
    rows kept for the correctness check."""

    name: str
    module: str
    construct: Callable
    execute: Callable


def collect(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def no_action(_df) -> None:
    return None


def normalize(rows, columns) -> list[tuple]:
    """Order-insensitive form of a result: columns sorted by name, floats
    at 10 significant digits, rows sorted (the repo's oracle-replay rule)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        out.append(
            tuple(f"{row[i]:.10g}" if isinstance(row[i], float) else str(row[i]) for i in order)
        )
    return sorted(out)


class Workload:
    name = ""
    memo_calls: frozenset = frozenset()  # calls whose first call builds a session memo

    def __init__(self, seed: int, work_dir: str, tiny: bool = False):
        self.seed, self.dir, self.tiny = seed, work_dir, tiny

    def make_inputs(self) -> None:
        raise NotImplementedError

    def calls(self, spark, pass_no: int) -> list[Call]:
        raise NotImplementedError

    def check(self, spark, duck, results: list[dict]) -> tuple[int, int, list[str]]:
        """Compare the passes' outputs with the oracle. `results` holds one
        {call name: rows} dict per pass. Returns (checked, mismatches,
        notes)."""
        raise NotImplementedError

    def after_pass(self, rows: dict) -> None:
        """Keep a pass's written outputs in `rows`, after its timing ends."""


def _passes_agree(results, name, notes) -> int:
    first = sorted(map(repr, results[0][name]))
    bad = sum(sorted(map(repr, r[name])) != first for r in results[1:])
    if bad:
        notes.append(f"{name}: {bad} later pass(es) returned other rows than pass 0")
    return int(bool(bad))


class RegistryStudies(Workload):
    """Layout studies (tiling, bias-voltage grouping, physics, a window
    rollup) and the MinHash-LSH dedup family, as registry calls on small
    generated inputs. Every input has at most 10^4 rows, so the time goes
    to plan construction, codegen, scheduling, Python workers and the
    session-memo builds: the tiling memo and the dedup family (signatures,
    LSH pairs, connected components), each built by its first call and
    served from the memo on warm passes."""

    name = "registry_studies"
    names = [
        "tile_slots",
        "bv_greedy_groups",
        "ring_classification",
        "sensor_physics",
        "minhash_lsh_neardup",
        "dedup_clusters",
        "dedup_size_histogram",
        "dedup_exact",
    ]
    tables = ["part", "orders", "documents"]
    memo_calls = frozenset(
        {"tile_slots", "minhash_lsh_neardup", "dedup_clusters", "dedup_size_histogram"}
    )

    def make_inputs(self):
        n = 300 if self.tiny else 10_000
        gen.part_and_orders(self.seed, self.dir, n_part=min(n, 2000), n_orders=n)
        gen.documents(self.seed, self.dir, n_base=30 if self.tiny else 125)

    def calls(self, spark, pass_no):
        from etl_sh_design_spark import registry

        queries = registry.queries()
        return [
            Call(name, queries[name].__module__.rsplit(".", 1)[-1],
                 lambda fn=queries[name]: fn(spark, self.dir), collect)
            for name in self.names
        ]

    def check(self, spark, duck, results):
        from etl_sh_design_spark import registry

        queries, oracle = registry.queries(), registry.oracle_sql()
        for t in self.tables:
            path = os.path.join(self.dir, f"{t}.parquet")
            duck.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        notes: list[str] = []
        checked = mismatches = 0
        for name in self.names:
            if not all(name in r for r in results):
                continue  # the call failed; counted as a failed op
            checked += 1
            mismatches += _passes_agree(results, name, notes)
            got = results[-1][name]
            if name == "dedup_size_histogram":
                # Checked against the cluster sizes of dedup_clusters
                # (itself oracle-checked): its own oracle repeats the
                # recursive closure, which costs DuckDB seconds.
                sizes = Counter(n for _cid, n in results[-1].get("dedup_clusters", []))
                if sorted(got) != sorted((size, k, size * k) for size, k in sizes.items()):
                    mismatches += 1
                    notes.append(f"{name}: differs from the cluster sizes of dedup_clusters")
                continue
            columns = queries[name](spark, self.dir).columns
            res = duck.execute(oracle[name])
            want_columns = [d[0] for d in res.description]
            if sorted(columns) != sorted(want_columns) or normalize(got, columns) != normalize(
                res.fetchall(), want_columns
            ):
                mismatches += 1
                notes.append(f"{name}: rows differ from the oracle")
        return checked, mismatches, notes


class McAcceptance(Workload):
    """Layout export -> Monte-Carlo acceptance over the exported YAML ->
    result cache write and re-read. The only workload that writes, and the
    only one with the binned containment join; at 10^5 rays a warm pass is
    about half driver-side per-call cost and half short Spark jobs."""

    name = "mc_acceptance"
    memo_calls = frozenset({"real_acceptance_profile"})
    ORACLE_RAYS = 5_000
    # export_layout's documented module geometry: two 21.6 mm sensors with
    # a 0.3 mm gap, so each center sits (0.3 + 21.6) / 2 mm off the module's.
    SENSOR_OFFSET_Y = (0.3 + 21.6) / 2

    def __init__(self, seed, work_dir, tiny=False):
        super().__init__(seed, work_dir, tiny)
        self.n_rays = 20_000 if tiny else 100_000
        self.yaml = os.path.join(work_dir, "layout.yaml")
        self.cache = os.path.join(work_dir, "cache")
        self.faces: dict = {}

    def make_inputs(self):
        self.faces = gen.face_tsvs(self.seed, os.path.join(self.dir, "faces"),
                                   pitch_scale=3.0 if self.tiny else 1.0)

    def after_pass(self, rows):
        # The YAML each pass wrote, checked in full after the timed region.
        if os.path.exists(self.yaml):
            with open(self.yaml, "rb") as fh:
                rows["export_layout"] = fh.read()

    def expected_centers(self) -> dict:
        """{(disk, face): sorted sensor centers} straight from the
        generated TSVs: each module gives two centers, at y -/+ the
        export's documented offset."""
        want = {}
        for (disk, face), path in self.faces.items():
            with open(path) as fh:
                modules = [line.split("\t") for line in fh.read().splitlines()[1:]]
            want[(disk, face)] = sorted(
                (round(float(x), 6), round(float(y) + dy, 6))
                for _m, x, y, _z in modules
                for dy in (-self.SENSOR_OFFSET_Y, self.SENSOR_OFFSET_Y)
            )
        return want

    def calls(self, spark, pass_no):
        from etl_sh_design_spark.plans import acceptance, layout_export
        from etl_sh_design_spark.sources import io as src

        run = f"pass{pass_no:02d}"
        runs = [f"pass{p:02d}" for p in range(pass_no + 1)]
        kept: dict = {}

        def profile():
            return acceptance.real_acceptance_profile(spark, self.n_rays, self.yaml)

        def profile_rows(df):
            kept["schema"], kept["rows"] = df.schema, collect(df)
            return kept["rows"]

        def cached_profile():
            # The sink writes the pass's already-computed profile; the MC
            # plan is not re-run inside the write.
            return spark.createDataFrame(kept["rows"], kept["schema"])

        return [
            Call("export_layout", "layout_export",
                 lambda: layout_export.export_layout(spark, self.faces, self.yaml), no_action),
            Call("real_acceptance_profile", "acceptance", profile, profile_rows),
            Call("real_hit_count_histogram", "acceptance",
                 lambda: acceptance.real_hit_count_histogram(spark, self.n_rays, self.yaml),
                 collect),
            Call("cache_result", "io", cached_profile,
                 lambda df: src.cache_result(df, self.cache, run)),
            Call("read_cached_runs", "io",
                 lambda: src.read_cached_runs(spark, self.cache, runs), collect),
        ]

    @staticmethod
    def _centers_match(doc, want) -> bool:
        if not isinstance(doc, dict) or set(doc) != {"new"}:
            return False
        got = {
            (disk, face): sorted((round(x, 6), round(y, 6)) for x, y in centers)
            for disk, faces in doc["new"].items()
            for face, centers in faces.items()
        }
        return got == want

    def check(self, spark, duck, results):
        import yaml

        from etl_sh_design_spark.plans import acceptance

        notes: list[str] = []
        checked = mismatches = 0
        # Every pass's YAML, parsed without the program's memo, holds the
        # sensor centers of the generated modules and nothing else. A pass
        # that wrote the same bytes as an earlier one has the same verdict.
        want = self.expected_centers()
        verdicts: dict[bytes, bool] = {}
        for p, r in enumerate(results):
            if "export_layout" not in r:
                continue
            checked += 1
            raw = r["export_layout"]
            if raw not in verdicts:
                loader = getattr(yaml, "CSafeLoader", yaml.SafeLoader)  # libyaml when built in
                verdicts[raw] = self._centers_match(yaml.load(raw, Loader=loader), want)
            if not verdicts[raw]:
                mismatches += 1
                notes.append(f"export_layout: pass {p} wrote other sensor centers than the TSVs give")
        if not all("real_acceptance_profile" in r and "real_hit_count_histogram" in r
                   for r in results):
            notes.append("acceptance calls failed; nothing more to check")
            return checked, mismatches, notes
        for name in ("real_acceptance_profile", "real_hit_count_histogram"):
            mismatches += _passes_agree(results, name, notes)
            checked += 1
        # Full size: the histogram counts every profiled ray.
        for p, r in enumerate(results):
            prof, hist = r["real_acceptance_profile"], r["real_hit_count_histogram"]
            if sum(row[1] for row in prof) != sum(row[1] for row in hist):
                mismatches += 1
                notes.append(f"pass {p}: histogram total != profile n_rays sum")
        # Every cached run reads back as the profile it cached.
        last = results[-1].get("read_cached_runs")
        if last is not None:
            checked += 1
            want = sorted(tuple(row) + (f"pass{p:02d}",)
                          for p, r in enumerate(results) for row in r["real_acceptance_profile"])
            if sorted(last) != want:
                mismatches += 1
                notes.append("read_cached_runs: cached runs do not read back as written")
        # Oracle at a ray count DuckDB's nested join handles quickly.
        n = self.ORACLE_RAYS
        for name, fn, sql in (
            ("real_acceptance_profile", acceptance.real_acceptance_profile,
             acceptance.real_acceptance_profile_sql(n, self.yaml)),
            ("real_hit_count_histogram", acceptance.real_hit_count_histogram,
             acceptance.real_hit_count_histogram_sql(n, self.yaml)),
        ):
            df = fn(spark, n, self.yaml)
            res = duck.execute(sql)
            checked += 1
            if normalize(collect(df), df.columns) != normalize(
                res.fetchall(), [d[0] for d in res.description]
            ):
                mismatches += 1
                notes.append(f"{name}: rows differ from the oracle at {n} rays")
        return checked, mismatches, notes


WORKLOADS = {w.name: w for w in (McAcceptance, RegistryStudies)}
