"""Snapshot storage: Iceberg-shaped commit semantics on plain parquet.

The north rule requires Iceberg tables with exact resume from
checkpoint (BASELINE.json north_rule).  Without an Iceberg runtime jar
(SURVEY.md §7.1), the store reproduces the Iceberg properties that the
engine actually relies on — atomic snapshot commit, time-travel by
round, exact resume — with immutable parquet data files plus an
atomically-renamed ``manifest.json`` per round:

  <root>/round=<N>/<table>/  ... parquet files (written to a tmp dir)
  <root>/round=<N>/manifest.json   ← os.rename = the commit point

A round either has a manifest (fully committed, every table listed
with its row count) or it doesn't (all its files are garbage to be
ignored/overwritten).  ``latest_round()`` scans manifests only, so a
killed run resumes from the last committed round with identical state
— verified by tests/test_parity.py::test_resume_exact.

The manifest's ``schemas`` key maps each table to its Spark schema
(``StructType`` JSON).  ``read`` and ``read_union`` hand it to the
reader, so reading committed state runs no schema-inference job; a
manifest without the key (written before it existed) falls back to
inference.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class ParquetSnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def _round_dir(self, rnd: int) -> str:
        return os.path.join(self.root, f"round={rnd}")

    def _manifest(self, rnd: int) -> str:
        return os.path.join(self._round_dir(rnd), "manifest.json")

    def _write_manifest(self, rnd: int, m: dict) -> None:
        """The one manifest writer: tmp-file + os.rename (atomic on POSIX)."""
        mtmp = self._manifest(rnd) + ".tmp"
        with open(mtmp, "w") as f:
            json.dump(m, f)
        os.rename(mtmp, self._manifest(rnd))

    # -- commit protocol -------------------------------------------------------
    def write_round(self, rnd: int, tables: dict[str, DataFrame]) -> dict[str, int]:
        """Write all *tables* for round *rnd*, then commit atomically.

        Data files land under round=N/_tmp/<table>; the directory is
        renamed into place and manifest.json is written last via
        tmp-file + os.rename (atomic on POSIX).  Row counts come from
        the writes themselves (parquet footers), no extra job; each
        table's schema goes into the manifest's ``schemas`` key.
        """
        rdir = self._round_dir(rnd)
        if os.path.exists(rdir):
            shutil.rmtree(rdir)  # uncommitted leftovers from a killed run
        tmp = os.path.join(rdir, "_tmp")
        counts: dict[str, int] = {}
        write_sec: dict[str, float] = {}
        schemas: dict[str, dict] = {}

        # The per-table writes are INDEPENDENT Spark jobs sharing
        # persisted upstream state (run_round persists deq/ex/links),
        # each too small to fill the executors on its own, so they run
        # from a small thread pool: the next job's tasks back-fill the
        # current job's straggler tail.  Tables that share a cache not
        # yet built submit duplicate jobs that wait on its block locks
        # (the cache is still computed once), and the overlap is worth
        # more than that wait: writing the tables one at a time made
        # the perfbench crawl round slower in 4 of 4 alternating pairs
        # (local[4], 4-core host; step_p50_s 5.3-6.3 s pooled, 6.6-8.1 s
        # sequential).  Commit order below is unchanged (rename +
        # manifest happen after ALL writes finish).
        # write_sec stays the drift-attribution signal but is now a
        # CONCURRENT wall per table (overlaps may double-bill a shared
        # input's first computation).
        def _write_one(item):
            name, df = item
            path = os.path.join(tmp, name)
            t0 = time.time()
            df.write.mode("overwrite").parquet(path)
            return name, round(time.time() - t0, 3), _parquet_rows(path), df.schema.jsonValue()

        from concurrent.futures import ThreadPoolExecutor

        n_workers = min(3, max(1, len(tables)))
        with ThreadPoolExecutor(max_workers=n_workers) as pool:
            for name, sec, rows, schema in pool.map(_write_one, list(tables.items())):
                write_sec[name] = sec
                counts[name] = rows
                schemas[name] = schema
        for name in tables:
            os.rename(os.path.join(tmp, name), os.path.join(rdir, name))
        os.rmdir(tmp)
        # compaction pointer: carry forward the previous round's map and
        # record any <table>_full committed THIS round, so read_union
        # resolves its base in O(1) manifest reads instead of scanning
        # every round's manifest on every call (O(rounds^2) over a crawl)
        compact: dict[str, int] = {}
        if rnd > 0 and os.path.exists(self._manifest(rnd - 1)):
            compact = {
                k: int(v) for k, v in self.manifest(rnd - 1).get("compact", {}).items()
            }
        for name in tables:
            if name.endswith("_full"):
                compact[name[: -len("_full")]] = rnd
        self._write_manifest(rnd, {
            "round": rnd, "tables": counts, "compact": compact, "schemas": schemas,
            "write_sec": write_sec, "committed_at": time.time()})
        return counts

    def _committed(self, rnd: int) -> dict:
        if not os.path.exists(self._manifest(rnd)):
            raise FileNotFoundError(f"round {rnd} not committed in {self.root}")
        return self.manifest(rnd)

    def read(self, spark: SparkSession, rnd: int, table: str) -> DataFrame:
        schema = self._committed(rnd).get("schemas", {}).get(table)
        return _scan(spark, [os.path.join(self._round_dir(rnd), table)], [schema])

    def read_union(self, spark: SparkSession, upto: int, table: str) -> DataFrame:
        """Union of *table* across rounds 0..upto — ONE multi-path scan.

        Used for append-only delta tables (``seen``): each round commits
        only its delta, so a 1000-round crawl never rewrites the
        accumulated set (O(delta) per round, not O(total)); readers get
        the full state as a single parquet scan over all round dirs.

        If some round ≤ upto committed a ``<table>_full`` compaction
        (driver CrawlConfig.compact_every), the scan starts there and
        unions only the deltas after it — bounding file-listing cost
        for arbitrarily long crawls.
        """
        # O(1): the manifest carries the latest compaction round
        base = self._committed(upto)["compact"].get(table)
        first = 0 if base is None else base + 1
        manifests = {r: self.manifest(r) for r in range(first, upto + 1)}
        # only rounds whose manifest actually lists the table: a table can
        # join the crawl mid-run (e.g. postings when --text-index is
        # enabled on resume) and a path for a round that never wrote it
        # would fail the whole multi-path scan
        parts = [(r, table) for r, m in manifests.items() if table in m["tables"]]
        if base is not None:
            manifests[base] = self.manifest(base)
            parts.insert(0, (base, f"{table}_full"))
        if not parts:
            raise FileNotFoundError(
                f"table {table!r} not committed in any round <= {upto} of {self.root}"
            )
        return _scan(
            spark,
            [os.path.join(self._round_dir(r), t) for r, t in parts],
            [manifests[r].get("schemas", {}).get(t) for r, t in parts],
        )

    def prune_table(self, table: str, keep_from: int) -> list[int]:
        """Delete *table*'s data files for committed rounds < keep_from
        and record the pruning in those rounds' manifests (the name
        leaves ``tables`` so read_union skips it; ``pruned`` keeps the
        row count for audit).  For per-round FULL snapshots — the
        bloom/cuckoo seen-filter sidecar, rewritten whole every round —
        only the latest snapshot is ever read, so a compaction round
        prunes the older ones and the state dir holds
        O(compact_every) filter snapshots on arbitrarily long crawls
        (VERDICT r03 'Next round' #7).  Never use on append-only DELTA
        tables (seen/host_edges/postings): their old rounds stay
        readable history until a ``<table>_full`` supersedes them.

        Returns the pruned round numbers.  Crash-safe: a kill between
        the rmtree and the manifest rewrite leaves a missing dir whose
        manifest still lists the table — the next prune call re-amends
        it (os.path.isdir guards the rmtree; the manifest pop is
        re-applied idempotently)."""
        pruned: list[int] = []
        for d in os.listdir(self.root):
            if not d.startswith("round="):
                continue
            r = int(d.split("=", 1)[1])
            if r >= keep_from or not os.path.exists(self._manifest(r)):
                continue
            p = os.path.join(self.root, d, table)
            m = self.manifest(r)
            if table not in m["tables"] and not os.path.isdir(p):
                continue  # already fully pruned
            if os.path.isdir(p):
                shutil.rmtree(p)
            rows = m["tables"].pop(table, None)
            m.setdefault("pruned", {})[table] = rows
            self._write_manifest(r, m)
            pruned.append(r)
        return sorted(pruned)

    def latest_round(self) -> int | None:
        """Highest committed round, or None (resume entry point)."""
        best = None
        if not os.path.isdir(self.root):
            return None
        for d in os.listdir(self.root):
            if d.startswith("round=") and os.path.exists(
                os.path.join(self.root, d, "manifest.json")
            ):
                n = int(d.split("=", 1)[1])
                best = n if best is None or n > best else best
        return best

    def manifest(self, rnd: int) -> dict:
        with open(self._manifest(rnd)) as f:
            return json.load(f)

    def amend_manifest(self, rnd: int, extra: dict) -> None:
        """Merge *extra* into a committed round's manifest (atomic rename)."""
        m = self.manifest(rnd)
        m.update(extra)
        self._write_manifest(rnd, m)


def _scan(spark: SparkSession, paths: list[str], schemas: list[dict | None]) -> DataFrame:
    """One parquet scan of *paths*.  When every path's manifest recorded
    the same schema, the reader takes it and no inference job runs."""
    reader = spark.read
    if schemas[0] is not None and all(s == schemas[0] for s in schemas):
        reader = reader.schema(StructType.fromJson(schemas[0]))
    return reader.parquet(*paths)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    ds = pq.ParquetDataset(path)
    return sum(f.metadata.num_rows for f in (pq.ParquetFile(p) for p in ds.files))

