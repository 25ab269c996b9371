"""The benchmark's workloads: their inputs, fixed op sequences and
correctness checks.

An op is one call into a public engine layer. ``run`` performs the call and
returns either ``None`` (the call did its work eagerly) or a lazy DataFrame,
which the runner then executes through the ``noop`` sink. The time from the
call to the end of that action is the op's latency; the split between the
two is the op's ``construct`` and ``action`` time.
"""

from __future__ import annotations

import collections
import hashlib
import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable

import gen

# llm_curation: input size and op set (NOTES.md says why these six)
N_DOCS = 1000
N_VECS = 500
LLM_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_exact_text",
    "text_bm25_topk",
    "text_language_id",
    "sim_kmeans_train_assign",
    "sim_ivfpq_trained_recall_at_k",
]
OPERATOR_FAMILY = {"dedup": "dedup", "text": "text", "sim": "similarity"}

# crystal_db: records per source and the mutation parameters
N_PER_SOURCE = 100
GAP_FILTER = 1.0          # read filter: data.band_gap > GAP_FILTER
UPDATE_SHARE = 0.05       # share of records whose band gap is raised by 1 eV
DELETE_HULL = 0.15        # delete where data.energy_above_hull > DELETE_HULL
NORMALIZE_ROWS = 100      # max rows per file after normalize
DB_NAMES = {"alex": "alex", "mp": "materials_project", "mc3d": "materialscloud"}


@dataclass
class Op:
    name: str
    layer: str  # the per-layer metric this op's latency adds to
    run: Callable[[], object]
    writes: bool = False  # rewrites the combined DB (traced runs measure its size)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


class LlmCuration:
    """Six LLM-curation operators over generated documents and embeddings.
    The seed drives the generated tables and fixes the op order of the run."""

    name = "llm_curation"

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.sf_dir = os.path.join(work_dir, "tables")
        self._con = None  # DuckDB connection of the correctness checks

    def make_inputs(self) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        gen.write_llm_tables(self.sf_dir, self.seed, N_DOCS, N_VECS)

    def ops(self) -> list[Op]:
        from crystal_parquet_database_spark.surface import QUERIES

        order = list(LLM_QUERIES)
        random.Random(self.seed).shuffle(order)
        return [
            Op(q, f"operators.{OPERATOR_FAMILY[q.split('_', 1)[0]]}_s",
               lambda q=q: QUERIES[q](self.spark, self.sf_dir))
            for q in order
        ]

    def reset(self) -> None:
        """Read-only workload: passes share the same on-disk state."""

    def pass_counters(self) -> dict:
        return {}

    def check(self, op: Op, res) -> list[tuple[str, bool, str]]:
        """The DataFrame the op returned against the query's DuckDB oracle."""
        from crystal_parquet_database_spark.testing import compare_query, duckdb_connection

        if self._con is None:
            self._con = duckdb_connection(self.sf_dir)
        ok, msg = compare_query(self.spark, op.name, self.sf_dir, con=self._con,
                                query_fn=lambda *_: res)
        return [(op.name, ok, msg)]

    def final_checks(self) -> list[tuple[str, bool, str]]:
        self._con.close()
        self._con = None
        return []


class CrystalDb:
    """The reference's own job: three loaders ingest seeded upstream files,
    PqDB combines them, then nested reads, an update, a delete, a clustered
    normalize and a read after it. Each pass starts from the same on-disk
    state (``reset``)."""

    name = "crystal_db"

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.data_dir = os.path.join(work_dir, "sources")
        self.db_path = os.path.join(work_dir, "combined_db")
        self.records = gen.crystal_records(seed, N_PER_SOURCE)
        rng = random.Random(seed + 1)
        all_ids = [r["source_id"] for src in gen.SOURCES for r in self.records[src]]
        self.update_ids = sorted(rng.sample(all_ids, int(len(all_ids) * UPDATE_SHARE)))
        self.canonical: dict = {}  # loader output waiting for its create op
        self.created = 0  # rows the last create op reported
        self.bytes_written = 0  # dataset size after each rewrite, summed per pass
        self.db = None

    def make_inputs(self) -> None:
        shutil.rmtree(self.data_dir, ignore_errors=True)
        gen.write_crystal_sources(self.data_dir, self.records)

    def _loader(self, src: str):
        from crystal_parquet_database_spark.sources import LoaderConfig, LoaderFactory

        return LoaderFactory.get_loader(
            self.spark, *gen.LOADER_KEYS[src], LoaderConfig(data_dir=self.data_dir)
        )

    def reset(self) -> None:
        """Identical on-disk state before each pass: drop the combined DB and
        every loader's interim DB, then flush dirty pages so the previous
        pass's writeback does not land inside the next one."""
        from crystal_parquet_database_spark import PqDB

        PqDB.destroy(self.db_path)
        for src in gen.SOURCES:
            PqDB.destroy(self._loader(src).interim_db_dir)
        self.canonical.clear()
        self.bytes_written = 0
        self._rows = 0  # rows the DB should hold, tracked by check()
        self.db = PqDB(self.spark, self.db_path)
        os.sync()

    def note_write(self) -> None:
        self.bytes_written += _dir_bytes(self.db_path)

    def pass_counters(self) -> dict:
        """Write amplification (dataset size after each rewrite, summed over
        the pass, per byte live at its end) and data files after normalize."""
        return {"bytes_written_per_live": self.bytes_written / _dir_bytes(self.db_path),
                "files": len(self.db.get_file_sizes())}

    # ---- ops
    def _run_loader(self, src: str) -> None:
        self.canonical[src] = self._loader(src).run()

    def _create(self, src: str) -> None:
        self.created = self.db.create(self.canonical.pop(src))

    def _read_gap(self):
        return self.db.read(
            columns=["id", "source_id", "data.band_gap"],
            filters=[("data.band_gap", ">", GAP_FILTER)],
        )

    def _read_elements(self):
        from pyspark.sql import functions as F

        from crystal_parquet_database_spark.functions.nested import site_elements

        df = self.db.read(columns=["structure"])
        return (
            df.select(F.explode(site_elements(F.col("structure.sites"))).alias("element"))
            .groupBy("element")
            .count()
        )

    def _update(self) -> None:
        from pyspark.sql import functions as F

        upd = self.db.read(
            columns=["id", "data"], filters=[("source_id", "in", self.update_ids)]
        ).withColumn(
            "data",
            F.col("data").withField(
                "band_gap", F.coalesce(F.col("data.band_gap"), F.lit(0.0)) + F.lit(1.0)
            ),
        )
        self.db.update(upd)

    def _delete(self) -> None:
        self.db.delete(where=f"data.energy_above_hull > {DELETE_HULL}")

    def _normalize(self) -> None:
        self.db.normalize(max_rows_per_file=NORMALIZE_ROWS, cluster_by=["data.band_gap"])

    def ops(self) -> list[Op]:
        ops = [Op(f"sources.{s}.run", f"sources.{s}.run_s", lambda s=s: self._run_loader(s))
               for s in gen.SOURCES]
        ops += [Op(f"db.create.{s}", "db.create_s", lambda s=s: self._create(s), True)
                for s in gen.SOURCES]
        ops += [
            Op("db.read.band_gap", "db.read_s", self._read_gap),
            Op("db.read.elements", "db.read_s", self._read_elements),
            Op("db.update", "db.update_s", self._update, True),
            Op("db.delete", "db.delete_s", self._delete, True),
            Op("db.normalize", "db.normalize_s", self._normalize, True),
            Op("db.read.after_normalize", "db.read_s", self._read_gap),
        ]
        return ops

    # ---- correctness
    def expected_rows(self) -> list[tuple]:
        """(source_database, source_id, n_sites, band_gap, energy_above_hull)
        of every row the generator implies after update and delete."""
        upd = set(self.update_ids)
        rows = []
        for src in gen.SOURCES:
            for r in self.records[src]:
                gap, hull = r["band_gap"], r["e_above_hull"]
                if r["source_id"] in upd and src != "mc3d":
                    gap = (gap or 0.0) + 1.0
                if hull is not None and hull > DELETE_HULL:
                    continue
                rows.append((DB_NAMES[src], r["source_id"], len(r["elements"]), gap, hull))
        return rows

    def check(self, op: Op, res) -> list[tuple[str, bool, str]]:
        """Row counts after each create and mutation, contiguous ids after
        the last create, and each read's result against the generator."""
        from pyspark.sql import functions as F

        out = []
        if op.name.startswith("db.create."):
            src = op.name.rsplit(".", 1)[1]
            self._rows += len(self.records[src])
            rows = self.db.n_rows
            out.append((op.name, self.created == len(self.records[src]) and rows == self._rows,
                        f"created {self.created}, rows {rows}, expected {self._rows}"))
            if src == gen.SOURCES[-1]:
                ids = tuple(self.db.read(columns=["id"]).agg(
                    F.count("id"), F.countDistinct("id"), F.min("id"), F.max("id")).first())
                n = self._rows
                out.append(("db.ids_contiguous", ids == (n, n, 0, n - 1),
                            f"ids (count, distinct, min, max) = {ids}"))
        elif op.name in ("db.read.band_gap", "db.read.after_normalize"):
            rows = self.expected_rows() if op.name.endswith("normalize") else [
                (None, None, None, r["band_gap"]) for r in self.records["mp"]]
            want = sum(1 for r in rows if r[3] is not None and r[3] > GAP_FILTER)
            got = res.count()
            out.append((op.name, got == want, f"{got} rows, expected {want}"))
        elif op.name == "db.read.elements":
            want = collections.Counter(
                e for s in gen.SOURCES for r in self.records[s] for e in r["elements"])
            got = {r["element"]: r["count"] for r in res.collect()}
            out.append((op.name, got == dict(want), f"{got} vs {dict(want)}"))
        elif op.name.startswith("db."):  # update, delete, normalize
            if op.name == "db.delete":
                self._rows = len(self.expected_rows())
            rows = self.db.n_rows
            out.append((op.name, rows == self._rows, f"{rows} rows, expected {self._rows}"))
        return out

    def final_checks(self) -> list[tuple[str, bool, str]]:
        """The final dataset against the rows the generator implies."""
        from pyspark.sql import functions as F

        df = self.db.read().select(
            "source_database", "source_id", F.size("species"),
            F.col("data.band_gap"), F.col("data.energy_above_hull"),
        )
        actual = [tuple(r) for r in df.collect()]
        expected = self.expected_rows()
        return [("db.final_rows_digest", rows_digest(actual) == rows_digest(expected),
                 f"{len(actual)} rows vs {len(expected)} expected")]


def rows_digest(rows: list[tuple]) -> str:
    """Order-insensitive digest of a row set (floats by repr)."""
    return hashlib.sha256("\n".join(sorted(repr(r) for r in rows)).encode()).hexdigest()


WORKLOADS = {w.name: w for w in (CrystalDb, LlmCuration)}
