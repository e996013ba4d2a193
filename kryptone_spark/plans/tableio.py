"""TableIO — the Iceberg seam (SURVEY.md §4.2.6).

The target deployment stores engine state in Iceberg tables partitioned
by ``(domain_bucket)`` with snapshot-based resume. This sandbox ships no
Iceberg runtime jars, so TableIO implements the same contract over
partitioned Parquet directories:

- ``write_wave(name, df, wave)`` — idempotent per-wave commit: each wave
  writes only its own subdirectory ``<name>/wave=<k>``; re-running a
  wave overwrites exactly that subdirectory (write-once per wave ≙ the
  reference's whole-cache JSON dump, /root/reference/kryptone/base.py:562-575,
  but append-only and partition-pruned instead of O(frontier) rewrites).
- ``read(name)`` — union of all committed waves (the same set
  ``committed_waves`` reports: a wave dir without ``_SUCCESS`` is torn).
- ``committed_waves(name)`` — resume point discovery.

Swapping in Iceberg is a 1:1 adapter: ``write_wave`` → ``MERGE INTO`` /
append with snapshot ID = wave, ``read`` → time-travel-free scan,
``committed_waves`` → snapshot log.
"""

from __future__ import annotations

import json
import pathlib
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TableIO:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = pathlib.Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        # folded-wave memo per table: write_wave consults folded_waves
        # on EVERY commit, and re-running _recover + manifest glob +
        # JSON parse per write makes the hot flush path pay
        # O(generations) filesystem work per wave. Only compaction and
        # rollback change the folded set — they invalidate. (A TableIO
        # instance assumes single-writer ownership of its root, which
        # the wave loop guarantees.)
        self._folded_cache: dict[str, set[int]] = {}

    def _dir(self, name: str) -> pathlib.Path:
        return self.root / name

    def write_wave(self, name: str, df: DataFrame, wave: int) -> None:
        """Idempotent: rewrites only wave=<k>. The wave id is a
        directory partition (dropped from the data, restored on read);
        domain_bucket sub-partitions keep downstream anti-joins prunable
        to the buckets a wave actually touches."""
        path = self._dir(name) / f"wave={wave}"
        if wave in self.folded_waves(name):
            # rewriting a folded wave would double its rows in read();
            # rollback through drop_waves_after first
            raise ValueError(
                f"wave {wave} of '{name}' is folded into the compacted "
                f"snapshot; drop_waves_after({wave - 1}) before rewriting"
            )
        if path.exists():
            shutil.rmtree(path)
        if "wave" in df.columns:
            df = df.drop("wave")
        writer = df.write.mode("overwrite")
        if "domain_bucket" in df.columns:
            writer = writer.partitionBy("domain_bucket")
        writer.parquet(str(path))

    # -- snapshot compaction (Iceberg rewrite_data_files analogue) ----
    #
    # A long crawl leaves one directory per (wave, table) with up to
    # n_domain_buckets part files each — the classic data-lake
    # small-files failure: at 10^4 waves the state tables are millions
    # of kilobyte files and every read pays a listing + open per file.
    #
    # Compaction is GENERATIONAL (tiered), like Iceberg's incremental
    # binpack: each ``compact`` cycle folds only the not-yet-folded
    # committed wave dirs into a NEW snapshot generation
    # (``<name>/compacted/gen=K``, wave kept as a DATA column sorted
    # inside files so wave predicates prune row groups) — each wave's
    # rows are rewritten exactly ONCE, so in-loop compaction costs
    # O(total data), not O(waves × table size) as a monolithic
    # re-snapshot would. ``compact(full=True)`` merges all generations
    # into one (the rare tiering step). Readers union the generations
    # with the not-yet-folded wave dirs; commit discovery unions the
    # per-generation ``_WAVES.json`` manifests with the
    # _SUCCESS-marked dirs — the resume contract is unchanged.
    #
    # Crash ordering: a generation is fully written (manifest inside)
    # under ``<name>/gen.tmp`` and renamed into place BEFORE the folded
    # wave dirs are removed — in every window a wave's rows are
    # readable exactly once: if two generations ever claim the same
    # wave (full-merge crash), the HIGHEST generation owns it and
    # readers filter the lower one; if a folded wave dir still exists,
    # the manifest excludes it from the live set. ``_recover`` heals
    # interrupted per-generation swaps (``*.bak``); stale tmp/orphan
    # dirs are garbage-collected on the next compact. (Real Iceberg
    # gets this from atomic snapshot-pointer swaps; this is the same
    # protocol hand-rolled on a filesystem.)

    def _compacted_dir(self, name: str) -> pathlib.Path:
        return self._dir(name) / "compacted"

    def _recover(self, name: str) -> None:
        comp = self._compacted_dir(name)
        if not comp.exists():
            return
        for bak in comp.glob("*.bak"):
            target = bak.with_name(bak.name[: -len(".bak")])
            if target.exists():
                shutil.rmtree(bak)  # swap completed; stale backup
            else:
                bak.rename(target)  # crashed mid-swap

    def _gens(self, name: str) -> list[tuple[int, pathlib.Path, list[int]]]:
        """(gen, path, manifest waves) ascending; manifest-less dirs
        (crash before the in-dir manifest write — impossible with the
        current ordering, but cheap to tolerate) are ignored."""
        self._recover(name)
        comp = self._compacted_dir(name)
        out = []
        for p in sorted(comp.glob("gen=*"), key=lambda p: int(p.name.split("=")[1])):
            m = p / "_WAVES.json"
            if m.exists():
                out.append((int(p.name.split("=")[1]), p, sorted(json.loads(m.read_text()))))
        return out

    def _ownership(self, name: str) -> list[tuple[pathlib.Path, list[int], bool]]:
        """(gen path, waves this gen OWNS, needs_filter). The highest
        generation claiming a wave owns it — lower claims only exist in
        a full-merge crash window and must be filtered out on read."""
        gens = self._gens(name)
        claimed: set[int] = set()
        owned_desc = []
        for g, p, waves in reversed(gens):
            own = [w for w in waves if w not in claimed]
            claimed |= set(waves)
            owned_desc.append((p, own, len(own) != len(waves)))
        return list(reversed(owned_desc))

    def folded_waves(self, name: str) -> list[int]:
        """Waves whose rows live in the compacted snapshot (memoized —
        see __init__; compact/drop_waves_after invalidate)."""
        cached = self._folded_cache.get(name)
        if cached is None:
            cached = set()
            for _, _, w in self._gens(name):
                cached |= set(w)
            self._folded_cache[name] = cached
        return sorted(cached)

    def _wave_dirs(self, name: str) -> list[pathlib.Path]:
        folded = set(self.folded_waves(name))
        return [
            p
            for p in sorted(self._dir(name).glob("wave=*"))
            if int(p.name.split("=")[1]) not in folded
        ]

    def _read_gen(self, path: pathlib.Path, schema=None) -> DataFrame | None:
        if next(path.rglob("*.parquet"), None) is None:
            return None
        r = self.spark.read.option("basePath", str(path))
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(str(path))

    def read(self, name: str, schema=None) -> DataFrame | None:
        base = self._dir(name)
        parts: list[DataFrame] = []
        for p, own, needs_filter in self._ownership(name):
            if not own:
                continue
            df = self._read_gen(p, schema)
            if df is None:
                continue
            if needs_filter:
                df = df.where(F.col("wave").isin(own))
            parts.append(df)
        # only committed dirs, exactly as committed_waves counts them: a
        # crash between task commit and job commit leaves part files but
        # no _SUCCESS. An all-empty wave dir (e.g. no robots-blocked
        # rows yet) has a _SUCCESS marker but no part files — nothing to
        # read from it
        live = [
            p
            for p in self._wave_dirs(name)
            if (p / "_SUCCESS").exists()
            and next(p.rglob("*.parquet"), None) is not None
        ]
        if live:
            r = self.spark.read.option("basePath", str(base))
            if schema is not None:
                r = r.schema(schema)
            parts.append(r.parquet(*[str(p) for p in live]))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p.select(out.columns))
        return out

    def read_wave(self, name: str, wave: int) -> DataFrame | None:
        for p, own, _ in reversed(self._ownership(name)):
            if wave in own:
                df = self._read_gen(p)
                return df.where(F.col("wave") == wave) if df is not None else None
        path = self._dir(name) / f"wave={wave}"
        if not (path / "_SUCCESS").exists():
            return None
        return self.spark.read.option("basePath", str(self._dir(name))).parquet(
            str(path)
        )

    def committed_waves(self, name: str) -> list[int]:
        """A wave counts as committed only when its write actually
        finished: the _SUCCESS marker (written by Spark's output
        committer at job commit) must exist — a crash mid-write leaves
        only _temporary content — or when it has been folded into a
        compacted generation (only committed waves are ever folded)."""
        live = {
            int(p.name.split("=")[1])
            for p in self._dir(name).glob("wave=*")
            if (p / "_SUCCESS").exists()
        }
        return sorted(live | set(self.folded_waves(name)))

    def compact(self, name: str, full: bool = False) -> int:
        """Fold the not-yet-folded committed wave dirs into a new
        snapshot generation (incremental — each wave's rows are
        rewritten once, ever). ``full=True`` also merges the existing
        generations into the new one (the rare tiering step). Returns
        the number of wave dirs folded."""
        self._folded_cache.pop(name, None)
        base = self._dir(name)
        tmp = base / "gen.tmp"
        if tmp.exists():
            shutil.rmtree(tmp)  # stale from a crashed cycle
        folded = set(self.folded_waves(name))
        # gc: folded dirs whose removal crashed, and gens that own nothing
        for p in base.glob("wave=*"):
            if int(p.name.split("=")[1]) in folded:
                shutil.rmtree(p)
        for p, own, _ in self._ownership(name):
            if not own:
                shutil.rmtree(p)

        live = [p for p in self._wave_dirs(name) if (p / "_SUCCESS").exists()]
        if not live and not (full and len(self._gens(name)) > 1):
            return 0
        live_waves = [int(p.name.split("=")[1]) for p in live]

        parts: list[DataFrame] = []
        merged_gens: list[pathlib.Path] = []
        waves_out = set(live_waves)
        if full:
            for p, own, needs_filter in self._ownership(name):
                df = self._read_gen(p)
                if df is not None:
                    parts.append(df.where(F.col("wave").isin(own)) if needs_filter else df)
                merged_gens.append(p)
                waves_out |= set(own)
        readable = [p for p in live if next(p.rglob("*.parquet"), None) is not None]
        if readable:
            parts.append(
                self.spark.read.option("basePath", str(base)).parquet(
                    *[str(p) for p in readable]
                )
            )
        next_gen = (self._gens(name)[-1][0] + 1) if self._gens(name) else 0
        if parts:
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p.select(df.columns))
            writer = (
                df.withColumn("wave", F.col("wave").cast("int"))
                .sortWithinPartitions("wave")
                .write.mode("overwrite")
            )
            if "domain_bucket" in df.columns:
                writer = writer.partitionBy("domain_bucket")
            writer.parquet(str(tmp))
        else:
            tmp.mkdir(parents=True)
        (tmp / "_WAVES.json").write_text(json.dumps(sorted(waves_out)))
        self._compacted_dir(name).mkdir(parents=True, exist_ok=True)
        tmp.rename(self._compacted_dir(name) / f"gen={next_gen}")
        for p in merged_gens:
            shutil.rmtree(p)
        for p in live:
            shutil.rmtree(p)
        self._folded_cache.pop(name, None)
        return len(live)

    def drop_waves_after(self, name: str, wave: int) -> None:
        """Roll back a partially-committed resume point. Generations
        reaching past the cut are dropped or rewritten filtered (rare:
        compaction folds only committed waves, and rollback targets the
        uncommitted tail)."""
        self._folded_cache.pop(name, None)
        for p in self._dir(name).glob("wave=*"):
            if int(p.name.split("=")[1]) > wave:
                shutil.rmtree(p)
        for g, p, waves in self._gens(name):
            keep = [w for w in waves if w <= wave]
            if len(keep) == len(waves):
                continue
            if not keep:
                shutil.rmtree(p)
                continue
            tmp = self._dir(name) / "gen.tmp"
            if tmp.exists():
                shutil.rmtree(tmp)
            df = self._read_gen(p)
            if df is None:
                (p / "_WAVES.json").write_text(json.dumps(keep))
                continue
            df = df.where(F.col("wave") <= wave).localCheckpoint(eager=True)
            writer = df.write.mode("overwrite")
            if "domain_bucket" in df.columns:
                writer = writer.partitionBy("domain_bucket")
            writer.parquet(str(tmp))
            (tmp / "_WAVES.json").write_text(json.dumps(keep))
            bak = p.with_name(p.name + ".bak")
            p.rename(bak)
            tmp.rename(p)
            shutil.rmtree(bak)
        self._folded_cache.pop(name, None)
