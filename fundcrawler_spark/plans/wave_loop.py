"""Wave-loop crawl driver — the Spark re-expression of the reference's
producer / child-process / consumer pipeline (process_manager.py:185-207
+ http_request_downloader.py:116-175), serialized into deterministic
micro-batch waves (SURVEY.md §3 E1).

``Crawler.run`` builds one ``WaveState`` (seed or resume) and then runs
each wave as a fixed chain of phases. Each phase reads and writes only
``WaveState`` fields:

1. refill (``_refill_phase``) — reads ``backlog_admittable`` and
   ``orig_rem_lb``; for every host whose original slice could dip below
   ``max_budget`` it moves the host's next top rows from ``backlog`` into
   ``active`` and updates the four per-host count dicts.
2. admit + fetch + agg (``_fetch_phase``) — reads ``active``,
   ``active_counts`` and ``budgets``; ranks the per-host budget window
   (politeness.admit), runs the fetch kernel (fetch.run_fetch) and
   collects per-host (success, fail, requeue) counts. Writes nothing.
3. advance (``_advance_phase``) — attaches the crawl order
   (fetch.with_fetch_order) from ``order_offset``; ticks ``budgets``;
   buffers the wave's pages / fetch_log / exhausted seeds into the
   ``pending_*`` lists and its seen keys into ``pending_seen``; builds the
   next active slice (anti-join admitted + requeue failures) and updates
   ``active_counts`` / ``orig_rem_lb``; in discover mode adds the deduped
   discovered links to it.
4. checkpoint (``_checkpoint_phase``) — every ``checkpoint_every`` waves:
   settle ``pending_seen`` into ``shards``, flush the ``pending_*``
   buffers into the tables and the incomplete-seeds pool (``_flush``),
   write the durable checkpoint (``_checkpoint``), then re-read its
   frontier and re-split it into ``active`` / ``backlog``. Other waves
   only cut the new active slice's lineage.
5. finish (``_finish``) — writes a last checkpoint if the last wave had
   none, releases cached frames and returns the run stats.

Scale properties: the frontier is split into a small ACTIVE slice (each
host's top active_slice_waves x max_budget rows under the admission
order) and a static BACKLOG that steady-state waves never read —
admission ranks, anti-joins, and requeues touch only the active slice,
and the backlog is scanned only at refills and at durable checkpoints.
Robots rules are applied ONCE at insertion (static per run), so
steady-state waves skip the filter and a blocked crawl drains exactly.
Result assembly is incremental over a bounded incomplete-seeds pool (no
per-interval pages-table scan). Per-host frontier counts are maintained
incrementally on the driver (bounded deltas per wave). The admitted side
of every join is budget-bounded -> broadcast; the only global sort is
over the admitted set (<= hosts x max_budget rows) for the crawl-order
contract. Per-wave flatness in backlog size is measured by
scripts/bench_backlog.py.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urlnorm import canonicalize_url, host_salt, url_hash, url_host
from ..operators import frontier as frontier_ops
from ..operators.assemble import assemble_results
from ..operators.fetch import run_fetch, with_fetch_order
from ..operators.multimodal import enrich_images
from ..operators.politeness import (
    RobotsMatcher,
    admit,
    robots_filter,
    top_slice_keys,
    with_page_ordinal,
)
from ..operators.seen import SeenSet
from ..schemas import (
    EXHAUSTED_SEEDS_SCHEMA,
    FRONTIER_SCHEMA,
    INCOMPLETE_POOL_SCHEMA,
    PAGE_TYPES,
    SEEN_SHARDS_SCHEMA,
)
from ..sources.iceberg_lite import IcebergLiteTable
from .rate_control import BudgetTable

# fixed partition count for the materialized incomplete-seeds pool: the
# pool is row-bounded (in-flight incomplete seeds), so a handful of
# partitions is enough at any scale, and pinning it stops partition
# counts compounding across checkpoint intervals (see _finalize_increment)
POOL_PARTITIONS = 8

# post-fetch coalesce sizing: downstream per-wave consumers read the
# cached kernel output through a coalesce of ceil(rows / this) tasks
# (capped at defaultParallelism) — 1 task for politeness-bounded waves,
# proportional fan-in for genuinely large ones
COALESCE_ROWS_PER_TASK = 4096

# durable-checkpoint frontier files hold ~this many rows each (capped at
# n_salts files): a fixed n_salts files wrote 32 near-empty files for 8k
# bench rows
CKPT_ROWS_PER_FILE = 50_000


@dataclass
class CrawlConfig:
    n_salts: int = 32
    n_shards: int = 64
    seen_kind: str = "bloom"          # 'bloom' | 'cuckoo'
    insert_on: str = "success"         # 'success' | 'admission' (cuckoo)
    fail_rate: float = 0.0             # stub-transport fault probability
    max_fail_attempts: int = 3         # stub: URL succeeds after this many
    max_retries: int | None = 10       # None = reference's infinite default
    max_waves: int = 200
    max_budget: int = 160              # cpu*5 analog (rate_control.py:30)
    init_budget: float | None = None   # warm-start AIMD cur (bench only)
    checkpoint_every: int = 1          # durable ckpt cadence (waves)
    wave_seconds: float = 1.0          # Crawl-delay -> per-wave cap basis
    discover: bool = False             # recursive link discovery
    shard_capacity: int = 1_000_000
    robots_by_host: dict = field(default_factory=dict)
    agent: str = "fundcrawler"
    # fetch transport: 'stub' (deterministic offline) | 'http' (live
    # urllib GETs via sources/http_transport — the kernel a real user
    # points at a live site; unit-tested against localhost only)
    transport: str = "stub"
    # debug cross-check: re-derive the incremental per-host frontier
    # counts with a full groupBy each wave and assert they agree
    verify_host_counts: bool = False
    # active-slice sizing (>= 1): the wave loop holds each host's top
    # (active_slice_waves x max_budget) frontier rows in a small ACTIVE
    # set and leaves the rest in a static BACKLOG it only reads at
    # refill time / durable checkpoints — steady-state waves are
    # O(active), not O(frontier)
    active_slice_waves: int = 8
    # optional per-wave telemetry callback: receives one dict per wave
    # with phase wall times (refill / fetch+agg / discover-dedup /
    # checkpoint) and flags — used by scripts/bench_backlog.py to
    # attribute wave-time outliers; None = zero overhead
    wave_hook: object = None

    def __post_init__(self) -> None:
        # insert_on='admission' buffers ('delete', failed-urls) ops so a
        # failed fetch can be retried; only the cuckoo filter supports
        # delete, so reject the bloom combination at construction time
        # rather than silently corrupting the seen set at settle time
        if self.insert_on == "admission" and self.seen_kind != "cuckoo":
            raise ValueError(
                "insert_on='admission' requires seen_kind='cuckoo' "
                "(bloom filters cannot delete failed admissions)"
            )
        if self.seen_kind not in ("bloom", "cuckoo"):
            raise ValueError(f"unknown seen_kind {self.seen_kind!r}")
        if self.insert_on not in ("success", "admission"):
            raise ValueError(f"unknown insert_on {self.insert_on!r}")
        if self.transport not in ("stub", "http"):
            raise ValueError(f"unknown transport {self.transport!r}")
        if self.active_slice_waves < 1:
            raise ValueError(
                f"active_slice_waves must be >= 1, got {self.active_slice_waves}"
            )


def dedup_backlog_rows(seen: SeenSet, shards: DataFrame, rows: DataFrame,
                       active: DataFrame) -> DataFrame:
    """Discover-mode backlog dedup: drop backlog ``rows`` whose URL was
    already fetched (seen-set probe) or is pending in the active slice
    (anti-join vs the bounded active keys). Discovery inserts new URLs
    into ACTIVE after checking seen+active only — a duplicate of a
    still-backlogged row is allowed to exist until that backlog row
    SURFACES (at refill or at a durable-checkpoint re-split), where this
    function drops it. Exactly-once holds: the moved/active sides are
    bounded, so this is a broadcast anti-join + an O(rows) probe — never
    an O(frontier) scan per wave (r3 verdict item 1)."""
    out = seen.probe(shards, rows).filter(~F.col("seen")).drop("seen")
    return out.join(
        F.broadcast(active.select("url_hash").distinct()), "url_hash", "left_anti"
    )


def union_all(frames: list[DataFrame]) -> DataFrame:
    """unionByName fold of a non-empty list, left to right."""
    out = frames[0]
    for d in frames[1:]:
        out = out.unionByName(d)
    return out


def run_concurrently(*thunks: Callable[[], object]) -> None:
    """Run ``thunks`` at the same time: the first on the calling thread,
    the rest on worker threads submitted before it starts. Returns once
    all have finished; re-raises the first error in argument order."""
    with ThreadPoolExecutor(max_workers=max(1, len(thunks) - 1)) as ex:
        futs = [ex.submit(t) for t in thunks[1:]]
        thunks[0]()
    for fut in futs:
        fut.result()


def _timed(detail: dict, key: str, fn: Callable[[], object]) -> Callable[[], None]:
    """``fn`` as a thunk that records its own wall time in ``detail``."""
    def thunk() -> None:
        t0 = time.time()
        fn()
        detail[key] = round(time.time() - t0, 3)
    return thunk


def _host_counts(df: DataFrame) -> dict[str, int]:
    return {r["host"]: r["count"] for r in df.groupBy("host").count().collect()}


def _adaptive_width(rows: int, rows_per_part: int, cap: int) -> int:
    return min(cap, max(1, -(-rows // rows_per_part)))


@dataclass
class WaveState:
    """Everything one wave hands to the next."""

    seeds: DataFrame  # static: result assembly joins against it
    # seen-set blobs as of the last settle; ``pending_seen`` holds the
    # (op, url_hash frame) batches not folded in yet
    shards: DataFrame
    budgets: BudgetTable
    order_offset: int
    # incomplete-seeds pool and cumulative retry-exhausted seeds
    incomplete: DataFrame | None = None
    exhausted: DataFrame | None = None
    # the frontier, split by _split_frontier
    active: DataFrame | None = None
    backlog: DataFrame | None = None
    # per-host row counts: active rows, backlog rows, admittable backlog
    # rows, and a lower bound on the host's remaining ORIGINAL slice rows
    active_counts: dict[str, int] = field(default_factory=dict)
    backlog_total: dict[str, int] = field(default_factory=dict)
    backlog_admittable: dict[str, int] = field(default_factory=dict)
    orig_rem_lb: dict[str, int] = field(default_factory=dict)
    pending_seen: list[tuple[str, DataFrame]] = field(default_factory=list)
    # blob broadcast of the LAST-SETTLED shards (bloom discover fast
    # path) — invalidated whenever the shards change
    settled_bc: object = None
    # wave outputs buffered until the next durable checkpoint
    pending_pages: list[DataFrame] = field(default_factory=list)
    pending_logs: list[DataFrame] = field(default_factory=list)
    pending_exhausted: list[DataFrame] = field(default_factory=list)
    # cached frames released after the next durable checkpoint
    pending_persisted: list[DataFrame] = field(default_factory=list)
    # own wall time of each flush component, reported on the wave_hook
    flush_detail: dict = field(default_factory=dict)

    def host_totals(self) -> dict[str, int]:
        """Frontier rows per host (active + backlog), hosts with rows only."""
        totals = {}
        for h in set(self.active_counts) | set(self.backlog_total):
            n = self.active_counts.get(h, 0) + self.backlog_total.get(h, 0)
            if n > 0:
                totals[h] = n
        return totals

    def frontier_rows(self) -> int:
        return sum(self.active_counts.values()) + sum(self.backlog_total.values())


class Crawler:
    def __init__(self, spark: SparkSession, workdir: str, config: CrawlConfig | None = None):
        self.spark = spark
        self.workdir = workdir
        self.cfg = config or CrawlConfig()
        self.seen = SeenSet(
            spark, self.cfg.n_shards, self.cfg.seen_kind, self.cfg.shard_capacity
        )
        os.makedirs(workdir, exist_ok=True)
        self.pages = IcebergLiteTable(os.path.join(workdir, "tables", "pages"))
        self.images = IcebergLiteTable(os.path.join(workdir, "tables", "images"))
        self.results = IcebergLiteTable(os.path.join(workdir, "tables", "results"))
        self.fetch_log = IcebergLiteTable(os.path.join(workdir, "tables", "fetch_log"))
        self.ckpt_root = os.path.join(workdir, "checkpoints")
        os.makedirs(self.ckpt_root, exist_ok=True)
        # robots Crawl-delay caps admission per wave (politeness.py)
        self.robots_caps = {
            h: RobotsMatcher(txt, self.cfg.agent).budget_cap(self.cfg.wave_seconds)
            for h, txt in self.cfg.robots_by_host.items()
        }

    # ----------------------------------------------------- checkpointing

    def _ckpt_dir(self, wave: int) -> str:
        return os.path.join(self.ckpt_root, f"wave={wave:05d}")

    def _prepare_ckpt_dir(self, wave: int) -> str:
        d = self._ckpt_dir(wave)
        if os.path.exists(d):
            shutil.rmtree(d)
        return d

    def _write_frontier_seen(self, d: str, frontier: DataFrame,
                             shards: DataFrame) -> None:
        """The two flush-independent component writes (disjoint paths,
        no lineage into the buffered table appends), overlapped (guide
        §2.6)."""
        run_concurrently(
            lambda: frontier.write.parquet(os.path.join(d, "frontier")),
            # shard blobs are few, fixed-count rows; n_shards write
            # tasks produced n_shards near-empty files + footer-stat
            # reads per checkpoint. 8 shards/file keeps bench
            # checkpoints at a handful of files and the 1024-shard x
            # ~10 MB design point at ~128 files of ~80 MB (guide §6).
            # Layout only — resume re-reads and re-shuffles by shard id.
            lambda: shards.coalesce(max(1, self.cfg.n_shards // 8)).write.parquet(
                os.path.join(d, "seen")),
        )

    def _finish_checkpoint(self, d: str, wave: int, st: WaveState) -> None:
        """Post-flush component writes + meta + commit marker. Runs
        strictly after the flush so the pool/exhausted frames and the
        recorded table snapshot ids all reflect the same interval
        boundary; the _COMPLETE marker is written only after every
        component write returned."""
        # the incomplete-seeds pool + exhausted-seed set ride the
        # checkpoint so resume is O(pool), not a full pages-table scan
        writes = []
        if st.incomplete is not None:
            writes.append(lambda: st.incomplete.select("seed_index", "page_type", "body")
                          .write.parquet(os.path.join(d, "incomplete")))
        if st.exhausted is not None:
            writes.append(lambda: st.exhausted.write.parquet(os.path.join(d, "exhausted")))
        if writes:
            run_concurrently(*writes)
        meta = {
            "wave": wave,
            "order_offset": st.order_offset,
            "has_incomplete_pool": st.incomplete is not None,
            "has_exhausted": st.exhausted is not None,
            "budgets": st.budgets.to_dict(),
            "snapshots": {
                "pages": self.pages.current_snapshot(),
                "images": self.images.current_snapshot(),
                "results": self.results.current_snapshot(),
                "fetch_log": self.fetch_log.current_snapshot(),
            },
        }
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump(meta, f)
        # commit marker LAST -> a torn checkpoint is never resumed from
        open(os.path.join(d, "_COMPLETE"), "w").close()

    def latest_checkpoint(self) -> int | None:
        waves = [
            int(n.split("=")[1])
            for n in os.listdir(self.ckpt_root)
            if n.startswith("wave=")
            and os.path.exists(os.path.join(self.ckpt_root, n, "_COMPLETE"))
        ]
        return max(waves) if waves else None

    def _load_checkpoint(
        self, wave: int
    ) -> tuple[DataFrame, DataFrame, BudgetTable, int, DataFrame | None, DataFrame | None]:
        d = self._ckpt_dir(wave)
        with open(os.path.join(d, "meta.json")) as f:
            meta = json.load(f)
        if "has_incomplete_pool" not in meta:
            raise RuntimeError(
                f"checkpoint {d} has no incomplete-seeds pool record "
                "('has_incomplete_pool' missing from meta.json): it predates "
                "the pool checkpoint format and cannot be resumed; start a "
                "fresh crawl with overwrite=True"
            )
        # rewind table snapshots to exactly the checkpointed state
        for name, tbl in (
            ("pages", self.pages), ("images", self.images),
            ("results", self.results), ("fetch_log", self.fetch_log),
        ):
            snap = meta["snapshots"][name]
            if snap is not None and tbl.current_snapshot() != snap:
                tbl.rollback(snap)
        frontier = self.spark.read.schema(FRONTIER_SCHEMA).parquet(os.path.join(d, "frontier"))
        shards = self.spark.read.schema(SEEN_SHARDS_SCHEMA).parquet(os.path.join(d, "seen"))
        budgets = BudgetTable.from_dict(meta["budgets"], max_num=float(self.cfg.max_budget))
        pool = (
            self.spark.read.schema(INCOMPLETE_POOL_SCHEMA)
            .parquet(os.path.join(d, "incomplete"))
            if meta["has_incomplete_pool"]
            else None
        )
        exhausted = (
            self.spark.read.schema(EXHAUSTED_SEEDS_SCHEMA)
            .parquet(os.path.join(d, "exhausted"))
            if meta.get("has_exhausted")
            else None
        )
        return frontier, shards, budgets, meta["order_offset"], pool, exhausted

    def _workdir_dirty(self) -> bool:
        return self.latest_checkpoint() is not None or any(
            t.current_snapshot() is not None
            for t in (self.pages, self.images, self.results, self.fetch_log)
        )

    def _reset_workdir(self) -> None:
        """Truncate table dirs + checkpoints (callers gate this behind an
        explicit ``overwrite=True`` — it destroys a prior crawl)."""
        shutil.rmtree(self.ckpt_root, ignore_errors=True)
        os.makedirs(self.ckpt_root, exist_ok=True)
        tables_root = os.path.join(self.workdir, "tables")
        shutil.rmtree(tables_root, ignore_errors=True)
        self.pages = IcebergLiteTable(os.path.join(tables_root, "pages"))
        self.images = IcebergLiteTable(os.path.join(tables_root, "images"))
        self.results = IcebergLiteTable(os.path.join(tables_root, "results"))
        self.fetch_log = IcebergLiteTable(os.path.join(tables_root, "fetch_log"))

    # ------------------------------------------------------------- run

    def run(self, seeds: DataFrame | None = None, resume: bool = False,
            overwrite: bool = False, log=print) -> dict:
        cfg = self.cfg
        spark = self.spark
        seeds_path = os.path.join(self.workdir, "seeds.parquet")
        if resume:
            last = self.latest_checkpoint()
            if last is None:
                raise RuntimeError("no complete checkpoint to resume from")
            (frontier, shards, budgets, order_offset,
             pool, exhausted) = self._load_checkpoint(last)
            frontier = self._robots_drop(frontier)
            wave = last + 1
            seeds = spark.read.parquet(seeds_path)
            log(f"[crawl] resumed from checkpoint wave={last}")
            # the pool + exhausted set come straight from the checkpoint
            # (O(pool), no pages-table scan)
            st = WaveState(
                seeds=seeds, shards=shards, budgets=budgets, order_offset=order_offset,
                incomplete=pool.localCheckpoint() if pool is not None else None,
                exhausted=exhausted.localCheckpoint() if exhausted is not None else None,
            )
        else:
            assert seeds is not None, "fresh run needs a seeds DataFrame"
            # a fresh run into a previously-used workdir must not stack
            # appends on the old run's tables or leave stale checkpoints
            # a later resume would silently pick up against new seeds —
            # truncate both explicitly before wave 0. The truncate is
            # destructive (drops a prior crawl's pages/results), so it
            # requires an explicit overwrite=True; the default refuses.
            if self._workdir_dirty():
                if not overwrite:
                    raise RuntimeError(
                        f"workdir {self.workdir!r} holds a prior crawl "
                        "(tables or checkpoints present); pass resume=True "
                        "to continue it or overwrite=True to discard it"
                    )
                self._reset_workdir()
            seeds.write.mode("overwrite").parquet(seeds_path)
            seeds = spark.read.parquet(seeds_path)
            frontier0 = frontier_ops.seeds_to_frontier(seeds, cfg.n_salts)
            shards = self.seen.empty_shards()
            # probe-at-insert: drop URLs already in the seen set (no-op on
            # an empty set; meaningful when seeding an existing crawl)
            probed = self.seen.probe(shards, frontier0)
            frontier = self._robots_drop(probed.filter(~F.col("seen")).drop("seen"))
            budgets = BudgetTable(max_num=float(cfg.max_budget), init_cur=cfg.init_budget)
            st = WaveState(seeds=seeds, shards=shards, budgets=budgets, order_offset=0)
            wave = 0

        frontier = frontier.persist()
        st.pending_persisted.append(frontier)
        self._split_frontier(st, frontier)

        while wave < cfg.max_waves:
            t_wave0 = time.time()
            if cfg.verify_host_counts:
                self._verify_host_counts(st)
            n_frontier = st.frontier_rows()
            if n_frontier == 0:
                break
            refilled = self._refill_phase(st)
            t_refill_done = time.time()
            admitted, fetched_raw, wave_agg, hosts_seen = self._fetch_phase(st, wave)
            t_agg_done = time.time()
            active_next, n_admitted = self._advance_phase(
                st, wave, admitted, fetched_raw, wave_agg, hosts_seen, t_wave0
            )
            t_disc_done = time.time()
            durable = wave % cfg.checkpoint_every == cfg.checkpoint_every - 1
            ckpt_detail = self._checkpoint_phase(st, wave, active_next, durable)
            if cfg.wave_hook is not None:
                t_end = time.time()
                cfg.wave_hook({
                    "wave": wave,
                    "n_admitted": n_admitted,
                    "refilled_hosts": refilled,
                    "durable_ckpt": durable,
                    "refill_sec": round(t_refill_done - t_wave0, 3),
                    "fetch_agg_sec": round(t_agg_done - t_refill_done, 3),
                    "discover_sec": round(t_disc_done - t_agg_done, 3),
                    "checkpoint_sec": round(t_end - t_disc_done, 3),
                    "wave_sec": round(t_end - t_wave0, 3),
                    **ckpt_detail,
                })
            log(f"[crawl] wave={wave} frontier={n_frontier} admitted={n_admitted}")
            wave += 1

        return self._finish(st, wave)

    # ---------------------------------------------------------- phases

    def _refill_phase(self, st: WaveState) -> int:
        """Move the next top backlog rows into ACTIVE for every host whose
        remaining original slice could dip below max_budget; returns the
        number of hosts refilled."""
        hosts = [
            h for h in list(st.backlog_admittable)
            if st.backlog_admittable.get(h, 0) > 0
            and st.orig_rem_lb.get(h, 0) < self.cfg.max_budget
        ]
        if not hosts:
            return 0
        sub = st.backlog.filter(F.col("host").isin(hosts))
        approx = sum(st.backlog_admittable.get(h, 0) for h in hosts)
        keys = top_slice_keys(sub, self._slice_k(), approx_rows=approx).localCheckpoint()
        moved = st.backlog.join(F.broadcast(keys), "url_hash").localCheckpoint()
        # amortized: one backlog rewrite per ~active_slice_waves waves,
        # instead of an O(frontier) rank every wave
        st.backlog = st.backlog.join(
            F.broadcast(keys), "url_hash", "left_anti"
        ).localCheckpoint()
        # full per-host counts leave the backlog dicts; in discover mode
        # only the rows SURVIVING the dedup (not already fetched / not
        # pending in active) enter the active dicts
        moved_counts = _host_counts(moved)
        if self.cfg.discover:
            self._settle_shards(st)
            moved = dedup_backlog_rows(
                self.seen, st.shards, moved, st.active
            ).localCheckpoint()
            surv_counts = _host_counts(moved)
        else:
            surv_counts = moved_counts
        for h, c in moved_counts.items():
            s = surv_counts.get(h, 0)
            if s:
                st.active_counts[h] = st.active_counts.get(h, 0) + s
                st.orig_rem_lb[h] = st.orig_rem_lb.get(h, 0) + s
            for d in (st.backlog_total, st.backlog_admittable):
                left = d.get(h, 0) - c
                if left > 0:
                    d[h] = left
                else:
                    d.pop(h, None)
        st.active = st.active.unionByName(moved)
        return len(hosts)

    def _fetch_phase(self, st: WaveState,
                     wave: int) -> tuple[DataFrame, DataFrame, dict, set]:
        """Admit each host's budget window from ACTIVE, fetch it, and
        collect per-host (success, fail, requeue) counts."""
        cfg = self.cfg
        hosts_seen = set(st.host_totals())
        wave_budgets = {h: st.budgets.budget_for(h) for h in hosts_seen}
        for h, cap in self.robots_caps.items():
            if h in wave_budgets and cap is not None:
                wave_budgets[h] = min(wave_budgets[h], cap)

        # candidates = ACTIVE only; no robots filter here — disallowed
        # rows never entered the frontier (insertion-time drop),
        # requeues were admitted hence allowed, discoveries were
        # filtered on insert
        admitted = admit(st.active, wave_budgets, cfg.max_budget,
                         approx_rows=sum(st.active_counts.values()))
        admitted.persist()
        fetched_raw = run_fetch(admitted, cfg.fail_rate, cfg.max_fail_attempts,
                                wave=wave, discover=cfg.discover,
                                expected_rows=sum(wave_budgets.values()),
                                transport=cfg.transport)
        fetched_raw.persist()
        # one collect yields the AIMD observation (s, f) AND the
        # frontier-count deltas: admitted = s + f rows leave, rq
        # (= fails still under the retry cap) re-enter
        requeue_ok = F.col("state") == "FALSE"
        if cfg.max_retries is not None:
            requeue_ok = requeue_ok & (F.col("retry_count") < cfg.max_retries)
        wave_agg = {
            r["host"]: (r["s"], r["f"], r["rq"])
            for r in fetched_raw.groupBy("host")
            .agg(
                F.count_if(F.col("state") == "SUCCESS").alias("s"),
                F.count_if(F.col("state") == "FALSE").alias("f"),
                F.count_if(requeue_ok).alias("rq"),
            )
            .collect()
        }
        return admitted, fetched_raw, wave_agg, hosts_seen

    def _advance_phase(self, st: WaveState, wave: int, admitted: DataFrame,
                       fetched_raw: DataFrame, wave_agg: dict, hosts_seen: set,
                       t_wave0: float) -> tuple[DataFrame, int]:
        """Order the wave, tick AIMD, buffer its outputs, and build the
        next active slice. Returns (next active slice, admitted rows)."""
        cfg = self.cfg
        counts = {h: (s, f) for h, (s, f, _) in wave_agg.items()}
        n_admitted = sum(s + f for s, f in counts.values())
        # deterministic crawl order from the SAME collected counts:
        # per-host prefix-sum offsets attach as a literal map over the
        # cached kernel output — no global single-partition WindowExec
        # per wave (r5 verdict item 3)
        fetched = with_fetch_order(
            fetched_raw, {h: s + f for h, (s, f) in counts.items()}, st.order_offset
        )
        # narrow the wave's downstream reads back to O(1) tasks: without
        # it every consumer (eviction filter, pages/metrics/seen
        # buffers, requeue) scans the fetch kernel's full fan-out (≥32
        # blocks of ~5 rows) — ~31 extra tasks × several jobs × 412
        # waves cost ~200 s on the full replay. coalesce is a NARROW dep
        # over the already-materialized cached blocks (the wave_agg
        # collect populated them): no exchange, no kernel recompute, and
        # the task count still scales with genuinely large waves.
        if n_admitted:
            fetched = fetched.coalesce(_adaptive_width(
                n_admitted, COALESCE_ROWS_PER_TASK,
                self.spark.sparkContext.defaultParallelism))
        # both stay cached until the buffered appends flush — the
        # pending pages/metrics plans read from these cached blocks
        st.pending_persisted.extend([fetched_raw, admitted])
        # AIMD tick: exactly one ring update per host per wave; done
        # BEFORE the metrics append so fetch_log carries the same
        # post-observation (fail_rate, tasks_num, threshold) triple the
        # reference's analyse mode records per update
        # (rate_control.py:42-47)
        st.budgets.observe_wave(counts, hosts_seen)
        if not n_admitted:
            return st.active, 0
        st.order_offset += n_admitted

        # seeds whose BARRIER page just exhausted its retry budget can
        # never complete — queue them for pool eviction at the next
        # flush. Restricted to the 4 barrier PAGE_TYPES: a
        # retry-exhausted *discovered* URL (e.g. ANNOUNCE) carries the
        # discovering seed's seed_index but does not block the 4-page
        # barrier, so it must not evict the seed
        if cfg.max_retries is not None:
            st.pending_exhausted.append(
                fetched.filter(
                    (F.col("state") == "FALSE")
                    & (F.col("retry_count") >= cfg.max_retries)
                    & F.col("page_type").isin(list(PAGE_TYPES))
                ).select("seed_index")
            )
        ok = fetched.filter(F.col("state") == "SUCCESS")
        st.pending_pages.append(ok.select(
            "url_hash", "url", "host", "page_type", "seed_index",
            "retry_count", "body", "image_bytes", "caption", "wave", "fetch_order",
        ))
        st.pending_logs.append(self._wave_metrics(fetched, hosts_seen, st.budgets, t_wave0))

        # frontier update touches ONLY the active slice
        rest = frontier_ops.remove_admitted(st.active, admitted)
        active_next = frontier_ops.requeue_failures(
            rest, fetched, wave + 1, cfg.max_retries
        )
        # incremental counts: -admitted +requeued, all active-side
        for h, (s, f, rq) in wave_agg.items():
            nxt = st.active_counts.get(h, 0) - (s + f) + rq
            if nxt > 0:
                st.active_counts[h] = nxt
            else:
                st.active_counts.pop(h, None)
            st.orig_rem_lb[h] = max(st.orig_rem_lb.get(h, 0) - (s + f), 0)

        # seen-set maintenance: buffer the wave's key frames, folded in
        # by _settle_shards at the next shard read
        if cfg.insert_on == "admission":
            st.pending_seen.append(("insert", admitted.select("url_hash")))
            fails = fetched.filter(F.col("state") == "FALSE")
            st.pending_seen.append(("delete", fails.select("url_hash")))
        else:
            st.pending_seen.append(("insert", ok.select("url_hash")))

        if cfg.discover:
            active_next = self._discover(st, ok, active_next, wave)
        return active_next, n_admitted

    def _checkpoint_phase(self, st: WaveState, wave: int, active_next: DataFrame,
                          durable: bool) -> dict:
        """Durable checkpoint + re-split every checkpoint_every waves
        (the wave_hook's ckpt_* detail is returned); otherwise cut the
        next active slice's lineage only."""
        if not durable:
            # lazy active checkpoint: truncates lineage but defers
            # materialization to the next wave's admit/fetch job — the
            # eager localCheckpoint was a whole driver-synchronous job
            # per wave (~1.2 s of the 3.6 s steady wave, r5 phase
            # telemetry). The shards are NOT touched here at all: even a
            # lazy localCheckpoint compiles a physical plan per call —
            # another ~1.2 s/wave of driver time.
            st.active = active_next.repartition(
                # scale-adaptive: pinning the control-plane-sized slice
                # to n_salts partitions made every steady-wave stage
                # schedule n_salts mostly-empty tasks (r7 A/B: 65.6 ->
                # 79.2 pages/s with 4x fewer); large waves still fan out
                # to the full n_salts
                _adaptive_width(sum(st.active_counts.values()),
                                COALESCE_ROWS_PER_TASK, self.cfg.n_salts),
                "url_hash",
            ).localCheckpoint(eager=False)
            return {}
        detail = self._checkpoint(st, wave, active_next)
        # the reloaded parquet is re-split, which doubles as a full
        # refill at checkpoint cadence
        d = self._ckpt_dir(wave)
        src = self.spark.read.schema(FRONTIER_SCHEMA).parquet(os.path.join(d, "frontier"))
        st.shards = self.spark.read.schema(SEEN_SHARDS_SCHEMA).parquet(os.path.join(d, "seen"))
        self._invalidate_settled_bc(st)
        self._release_caches(st)
        src = src.persist()
        st.pending_persisted.append(src)
        # discover mode: the durable dedup may have dropped stale
        # backlog copies, so counts must be re-derived
        self._split_frontier(st, src, total=None if self.cfg.discover else st.host_totals())
        return detail

    def _finish(self, st: WaveState, wave: int) -> dict:
        # final durable checkpoint so the last state is always resumable
        if wave > 0 and self.latest_checkpoint() != wave - 1:
            self._checkpoint(st, wave - 1, st.active)
        self._release_caches(st)
        # results/images were assembled INCREMENTALLY at each checkpoint
        # interval (_finalize_increment) — no end-of-run recompute
        stats = {"waves": wave, "pages_fetched": st.order_offset}
        results = self.results.read(self.spark)
        if results is not None:
            stats["results"] = results.count()
        # pool-boundedness telemetry (both counts are pool-sized actions):
        # after a crawl drains, every seed is either complete or
        # retry-exhausted, so the pool must be empty
        stats["incomplete_pool_rows"] = (
            st.incomplete.count() if st.incomplete is not None else 0
        )
        stats["exhausted_seeds"] = (
            st.exhausted.count() if st.exhausted is not None else 0
        )
        return stats

    # ----------------------------------------------- checkpoint + flush

    def _checkpoint(self, st: WaveState, wave: int, active: DataFrame) -> dict:
        """Durable checkpoint of the state after ``wave``: flush the
        buffered appends and write frontier + seen, overlapped; then the
        pool/exhausted writes, meta and the commit marker. The frontier
        written is the backlog+active union (resume format unchanged)."""
        t_f0 = time.time()
        width = _adaptive_width(st.frontier_rows(), CKPT_ROWS_PER_FILE, self.cfg.n_salts)
        self._settle_shards(st)
        full = self._durable_frontier(st, active).repartition(width, "url_hash")
        shards = st.shards
        d = self._prepare_ckpt_dir(wave)
        # the frontier/seen writes read only the settled shards + the
        # immutable active/backlog frames, while the flush appends to
        # the four tables and updates the pool — disjoint outputs, no
        # shared mutable state. The flush must finish before the
        # pool/exhausted writes and meta snapshot ids (r7: serial flush
        # 1.7 s + write 1.1 s -> overlapped ~1.8 s wall per checkpoint).
        # ckpt_flush_sec ends when the flush does; any frontier/seen
        # write still running then counts toward ckpt_write_sec.
        flush_end = []

        def flush() -> None:
            self._flush(st)
            flush_end.append(time.time())

        run_concurrently(flush, lambda: self._write_frontier_seen(d, full, shards))
        self._finish_checkpoint(d, wave, st)
        t_f2 = time.time()
        detail = {"ckpt_flush_sec": round(flush_end[0] - t_f0, 3),
                  "ckpt_write_sec": round(t_f2 - flush_end[0], 3),
                  **st.flush_detail}
        st.flush_detail.clear()
        return detail

    def _flush(self, st: WaveState) -> None:
        """Commit the buffered pages / fetch_log / images appends as one
        snapshot each and fold the interval into the pool. Table commits
        align with durable checkpoints (resume rolls snapshots back to
        one), so checkpoint_every waves cost one commit per table."""
        if st.pending_exhausted:
            self._note_exhausted(st, union_all(st.pending_exhausted))
            st.pending_exhausted.clear()
        fd = st.flush_detail
        thunks = []
        if st.pending_pages:
            pages = union_all(st.pending_pages)
            thunks += [
                lambda: self._finalize_increment(st, pages),
                _timed(fd, "flush_pages_sec", lambda: self.pages.append(pages)),
                _timed(fd, "flush_images_sec", lambda: self.images.append(
                    enrich_images(with_page_ordinal(pages).select(
                        F.concat_ws("_", F.lit("img"), "seed_index",
                                    "page_ordinal").alias("image_id"),
                        F.col("image_bytes").alias("bytes"),
                        "caption",
                    )))),
            ]
        if st.pending_logs:
            # telemetry rows are interval-bounded (waves x hosts x
            # partition ids) but the union carries waves x
            # shuffle-partitions mostly-empty partitions; 1 write task,
            # 1 file
            logs = union_all(st.pending_logs).coalesce(1)
            thunks.append(_timed(fd, "flush_logs_sec", lambda: self.fetch_log.append(logs)))
        # the append targets are DISTINCT tables reading the same cached
        # wave frames, so their jobs are independent: the flush was a
        # serial chain of ~8 driver-synchronous sub-second jobs whose
        # wall time was pure latency, not compute (r7 profile)
        if thunks:
            run_concurrently(*thunks)
        st.pending_pages.clear()
        st.pending_logs.clear()

    def _note_exhausted(self, st: WaveState, new_exhausted: DataFrame) -> None:
        """Fold retry-exhausted seed indexes into the cumulative set and
        evict their pages from the pool. Such seeds can NEVER pass the
        barrier (the page's URL left the frontier without succeeding);
        without eviction each permanent failure would pin its partial
        pages in the per-interval union forever (r4 verdict item 4). The
        set is cumulative (a late sibling page of an exhausted seed must
        not re-enter the pool) and bounded by permanently-failed seeds."""
        st.exhausted = (
            new_exhausted if st.exhausted is None
            else st.exhausted.unionByName(new_exhausted)
        ).distinct().localCheckpoint()
        if st.incomplete is not None:
            st.incomplete = st.incomplete.join(
                F.broadcast(st.exhausted), "seed_index", "left_anti"
            ).localCheckpoint()

    def _finalize_increment(self, st: WaveState, new_pages: DataFrame) -> None:
        """Fold this interval's barrier pages into the incomplete-seeds
        pool, append results for the seeds that just completed, and evict
        them. The pool is bounded by in-flight incomplete seeds and a
        seed's result row is appended EXACTLY ONCE: a completed seed
        leaves the pool and can never re-trigger, even when a discovered
        ANNOUNCE page for it arrives later (the r3 duplicate-results
        bug). Cost is O(interval + in-flight partial pages), not
        O(pages table). Runs inside the flush, i.e. BEFORE the
        checkpoint records the results/images snapshot ids, so resume
        rolls all four tables back to the same boundary."""
        # barrier pages ONLY: discover-mode ANNOUNCE successes carry the
        # discovering seed's seed_index but are not barrier types, so in
        # discover runs the pool still drains to zero once every seed
        # completes or exhausts (tests/test_pool.py
        # test_pool_drains_in_discover_mode)
        new_barrier = new_pages.filter(
            F.col("page_type").isin(list(PAGE_TYPES))
        ).select("seed_index", "page_type", "body")
        pool = (
            new_barrier if st.incomplete is None
            else st.incomplete.unionByName(new_barrier)
        )
        if st.exhausted is not None:
            pool = pool.join(F.broadcast(st.exhausted), "seed_index", "left_anti")
        # materialize the pool ONCE, at a small fixed partition count,
        # before its three consumers (assemble, done agg, evict
        # anti-join). Without the repartition the pool inherits the
        # interval union's partitions AND carries the prior pool's on
        # top, so each interval's localCheckpoint schedules
        # O(cumulative-interval) mostly-empty tasks — measured 12.6 s ->
        # 51.3 s across two checkpoints of an identical-size workload
        # (the r5 A/B creep).
        t_mat = time.time()
        pool = pool.repartition(POOL_PARTITIONS, "seed_index").localCheckpoint()
        st.flush_detail["flush_pool_mat_sec"] = round(time.time() - t_mat, 3)

        def evict_completed() -> None:
            done = (
                pool.groupBy("seed_index")
                .agg(F.count_distinct("page_type").alias("npt"))
                .filter(F.col("npt") == len(PAGE_TYPES))
                .select("seed_index")
            )
            st.incomplete = pool.join(
                F.broadcast(done), "seed_index", "left_anti"
            ).localCheckpoint()

        # the results append and the eviction both read ONLY the
        # materialized pool and write disjoint targets (results table vs
        # st.incomplete). The results rows are interval-bounded: shrink
        # to pool-scale write tasks (same small-write rationale as the
        # fetch_log flush)
        run_concurrently(
            _timed(st.flush_detail, "flush_pool_evict_self_sec", evict_completed),
            _timed(st.flush_detail, "flush_assemble_self_sec", lambda: self.results.append(
                assemble_results(pool, st.seeds).coalesce(POOL_PARTITIONS))),
        )

    def _release_caches(self, st: WaveState) -> None:
        # Only AFTER the durable checkpoint has written the seen shards:
        # the shard lineage is a chain of lazy localCheckpoint(eager=False)
        # inserts that still reads the cached fetched/admitted frames.
        # Unpersisting earlier would recompute up to checkpoint_every
        # waves of fetch work at the checkpoint write — and with a
        # non-deterministic transport the recomputed outcomes could
        # desync the seen set from the pages rows already committed.
        for d in st.pending_persisted:
            d.unpersist()
        st.pending_persisted.clear()

    # -------------------------------------------------------- seen set
    #
    # Seen-shard maintenance is deferred: a wave only APPENDS its key
    # frame to pending_seen (no Spark job, no plan compile; the r5 phase
    # audit measured ~1.2 s/wave of driver time for even a LAZY per-wave
    # shards.localCheckpoint, all of it physical-plan compilation).
    # _settle_shards folds the buffer into the shards right before
    # anything READS them: the discovery probe (cuckoo), the refill
    # dedup, and the durable checkpoint writes. In static mode that is
    # checkpoint cadence only. Chaining raw insert plans would be
    # exponential: each _mutate level references its parent twice
    # (untouched anti-join + touched semi-join), so the fold truncates
    # via localCheckpoint(eager=False) after every applied op.

    def _invalidate_settled_bc(self, st: WaveState) -> None:
        if st.settled_bc is not None:
            st.settled_bc.unpersist()
            st.settled_bc = None

    def _settle_shards(self, st: WaveState) -> None:
        if not st.pending_seen:
            return
        self._invalidate_settled_bc(st)
        if self.cfg.seen_kind == "bloom":
            # bloom blobs are bitwise order-independent (an insert ORs
            # hash positions; n_items adds), so folding all buffered
            # inserts as ONE batched insert is bit-identical to the
            # per-wave sequence. Guard that invariant loudly: a buffered
            # ('delete', ...) frame silently ORed into the bloom would
            # make failed URLs permanently 'seen' (never refetched).
            bad_ops = {op for op, _ in st.pending_seen if op != "insert"}
            if bad_ops:
                raise AssertionError(
                    "bloom seen-set buffered non-insert ops "
                    f"{sorted(bad_ops)}: bloom filters cannot delete "
                    "(use seen_kind='cuckoo' with insert_on='admission')"
                )
            keys = union_all([d for _, d in st.pending_seen])
            st.shards = self.seen.insert(st.shards, keys).localCheckpoint(eager=False)
        else:
            # cuckoo blobs are insertion-order-sensitive (eviction
            # paths): replay the exact per-wave op sequence, truncating
            # after each level
            for op, d in st.pending_seen:
                fn = self.seen.insert if op == "insert" else self.seen.delete
                st.shards = fn(st.shards, d).localCheckpoint(eager=False)
        st.pending_seen.clear()

    def _probe_unfetched(self, st: WaveState, rows: DataFrame) -> DataFrame:
        """``rows`` minus already-fetched URLs — the per-wave discover
        dedup. Bloom fast path: probe the LAST-SETTLED shards (blobs
        collected + broadcast ONCE per settle, reused every wave) and
        anti-join the buffered insert keys exactly (wave-bounded,
        broadcast) — so the steady discover wave does ZERO shard
        cogroups, and the blobs still materialize bit-identically at the
        next settle. Exactness: seen = settled ∪ buffered, and the exact
        anti-join has strictly fewer false positives than probing the
        folded bloom. Cuckoo buffers carry deletes (order-sensitive), so
        that path settles first."""
        if self.cfg.seen_kind != "bloom":
            self._settle_shards(st)
            return self.seen.probe(st.shards, rows).filter(~F.col("seen")).drop("seen")
        if st.settled_bc is None:
            total = (
                st.shards.select(F.sum(F.length("blob")).alias("b")).first()["b"]
                or 0
            )
            if total <= self.seen.BROADCAST_PROBE_BYTES:
                st.settled_bc = self.seen.broadcast_blobs(st.shards)
        if st.settled_bc is not None:
            out = self.seen.probe(st.shards, rows, bc=st.settled_bc)
        else:
            out = self.seen.probe(st.shards, rows, mode="cogroup")
        out = out.filter(~F.col("seen")).drop("seen")
        if st.pending_seen:
            keys = union_all([d for _, d in st.pending_seen])
            out = out.join(F.broadcast(keys.distinct()), "url_hash", "left_anti")
        return out

    # ---------------------------------------------- active + backlog
    #
    # Admission only ever needs each host's top-`budget` rows, so the
    # frontier is held as a small ACTIVE set (per-host top slice_k rows
    # under the admission total order) plus a BACKLOG the steady-state
    # wave never touches. Requeues and discoveries enter ACTIVE directly
    # (retry-first rows outrank everything; discoveries must be
    # rank-eligible immediately); the backlog is read only when a host
    # refills — when the conservative lower bound on its remaining
    # ORIGINAL slice drops below max_budget — and at durable checkpoints.
    # Correctness of admitting from ACTIVE only: every backlog row ranks
    # below every original-slice row of its host (the slice was the
    # exact top-K and per-row order keys are static), so as long as >=
    # budget original rows remain, the per-wave winner set over ACTIVE
    # equals the winner set over the full frontier.
    # Discovery mode runs the SAME split: discovered URLs enter ACTIVE
    # after dedup against seen + active only; a duplicate of a
    # still-backlogged row is dropped when that backlog row surfaces
    # (dedup_backlog_rows at refill / checkpoint re-split), so each URL
    # is still fetched exactly once. Scheduling note: such a duplicate is
    # admitted under the DISCOVERED row's rank, not the backlog row's — a
    # documented divergence that can only occur when a discovered URL
    # collides with a never-yet-active seeded URL; the reference's seed
    # URLs and discovered announcement URLs are disjoint namespaces, so
    # its replay is unaffected.

    def _slice_k(self) -> int:
        return self.cfg.active_slice_waves * max(self.cfg.max_budget, 1)

    def _split_frontier(self, st: WaveState, src: DataFrame,
                        total: dict[str, int] | None = None) -> None:
        if total is None:
            total = _host_counts(src)
        keys = top_slice_keys(
            src, self._slice_k(), approx_rows=sum(total.values())
        ).localCheckpoint()
        st.active = src.join(F.broadcast(keys), "url_hash").localCheckpoint()
        st.backlog = src.join(F.broadcast(keys), "url_hash", "left_anti")
        st.active_counts = _host_counts(st.active)
        st.backlog_total = {
            h: c - st.active_counts.get(h, 0)
            for h, c in total.items()
            if c - st.active_counts.get(h, 0) > 0
        }
        # robots-disallowed rows are dropped at insertion, so every
        # frontier row is admittable by construction
        st.backlog_admittable = dict(st.backlog_total)
        st.orig_rem_lb = dict(st.active_counts)

    def _durable_frontier(self, st: WaveState, active: DataFrame) -> DataFrame:
        """backlog+active union for durable checkpoints. Discover mode
        first drops stale backlog copies (already fetched, or pending in
        active) so a checkpoint re-split can never re-admit a fetched
        URL — the probe rides the checkpoint's existing O(frontier)
        rewrite, steady-state waves stay O(active)."""
        bl = st.backlog
        if self.cfg.discover:
            self._settle_shards(st)
            bl = dedup_backlog_rows(self.seen, st.shards, bl, active)
        return bl.unionByName(active)

    def _verify_host_counts(self, st: WaveState) -> None:
        actual = _host_counts(st.backlog.unionByName(st.active))
        tracked = st.host_totals()
        assert actual == tracked, {
            h: (tracked.get(h), actual.get(h))
            for h in set(actual) | set(tracked)
            if actual.get(h) != tracked.get(h)
        }

    # ------------------------------------------------------- insertion

    def _robots_drop(self, df: DataFrame) -> DataFrame:
        """Robots filtering happens ONCE, at insertion time (seeds /
        resume load / discoveries) — robots config is static per run, so
        permanently-disallowed rows never enter the frontier, every
        steady-state wave skips the filter entirely, and a blocked crawl
        terminates exactly when the ADMITTABLE frontier drains (the r3
        spin-to-max_waves wart). Requeued failures were admitted, hence
        already allowed."""
        if self.cfg.robots_by_host:
            return robots_filter(df, self.cfg.robots_by_host, self.cfg.agent)
        return df

    def _discover(self, st: WaveState, ok: DataFrame, active_next: DataFrame,
                  wave: int) -> DataFrame:
        """Recursive frontier growth: the wave's discovered links enter
        the next active slice after the dedup triangle — batch-distinct,
        anti-join vs the pending active slice, seen-set probe."""
        n_salts = self.cfg.n_salts
        disc = (
            ok.select(F.explode("links").alias("url"), "seed_index")
            .dropDuplicates(["url"])
            .withColumn("url_norm", canonicalize_url(F.col("url")))
            .withColumn("url_hash", url_hash(F.col("url_norm")))
            .withColumn("host", url_host(F.col("url_norm")))
            .withColumn("host_salt", host_salt(F.col("host"), n_salts, F.col("url_norm")))
            .withColumn("page_type", F.lit("ANNOUNCE"))
            .withColumn("retry_count", F.lit(0).cast("int"))
            .withColumn("priority", F.col("seed_index"))
            .withColumn("wave", F.lit(wave + 1).cast("int"))
            .select(
                "url", "url_norm", "url_hash", "host", "host_salt",
                "page_type", "seed_index", "retry_count", "priority", "wave",
            )
        )
        disc = self._robots_drop(disc)
        # dedup against the PENDING ACTIVE set + seen set only —
        # O(active), never O(frontier); a duplicate of a still-backlogged
        # row is dropped when the backlog row surfaces
        disc = disc.join(active_next.select("url_hash"), "url_hash", "left_anti")
        disc = self._probe_unfetched(st, disc)
        # the discovery set is wave-bounded (admitted x links per page),
        # so counting it is NOT an O(frontier) scan; cached so the count
        # and the union share one computation, released at the next
        # durable ckpt
        disc = disc.persist()
        for h, c in _host_counts(disc).items():
            st.active_counts[h] = st.active_counts.get(h, 0) + c
        st.pending_persisted.append(disc)
        return active_next.unionByName(disc)

    def _wave_metrics(self, fetched: DataFrame, hosts_seen: set,
                      budgets: BudgetTable, t_wave0: float) -> DataFrame:
        """fetch_log rows for one wave: counts per (wave, host, partition)
        plus the host's AIMD telemetry triple and the wave wall time.
        The triple attaches as a LITERAL map lookup, not a
        createDataFrame + broadcast join — the buffered metrics plans
        flush checkpoint_every at a time, and one broadcast per buffered
        wave cost ~8 s per flush on its own (r5 A/B creep audit). A
        >256-host wave falls back to the broadcast join to keep the
        literal plan small."""
        tel_rows = [(h, *budgets.telemetry_for(h)) for h in sorted(hosts_seen)]
        wall_ms = (time.time() - t_wave0) * 1000.0
        metrics = (
            fetched.withColumn("partition_id", F.spark_partition_id())
            .groupBy("wave", "host", "partition_id")
            .agg(
                F.count("*").alias("n_admitted"),
                F.count_if(F.col("state") == "SUCCESS").alias("n_success"),
                F.count_if(F.col("state") == "FALSE").alias("n_fail"),
            )
        )
        if len(tel_rows) <= 256:
            tel_map = F.create_map(*[
                part
                for h, fr, bu, th in tel_rows
                for part in (
                    F.lit(h),
                    F.array(F.lit(float(fr)), F.lit(float(bu)), F.lit(float(th))),
                )
            ])
            metrics = (
                metrics.withColumn("_tel", tel_map[F.col("host")])
                .withColumn("fail_rate_w10", F.col("_tel")[0])
                .withColumn("budget", F.col("_tel")[1])
                .withColumn("threshold", F.col("_tel")[2])
            )
        else:
            tel = self.spark.createDataFrame(
                tel_rows,
                "host string, fail_rate_w10 double, budget double, threshold double",
            )
            metrics = metrics.join(F.broadcast(tel), "host", "left")
        return metrics.withColumn("wall_ms", F.lit(wall_ms)).select(
            "wave", "host", "n_admitted", "n_success", "n_fail",
            "fail_rate_w10", "budget", "threshold", "partition_id", "wall_ms",
        )
