"""The workloads. Each is a closed loop with one client: the next
operation starts when the last one has returned.

Interface: ``prepare()`` writes the seeded inputs (not timed),
``warmup()`` runs the first cold operation (timed into ``setup_s``),
``check()`` and ``finish()`` run the once-per-run operations that stay
out of the timed figures (before and after the timed loop), ``op(i)``
runs one timed operation and returns an ``Op``, and ``install()`` puts
spans around the program's module functions for a traced run.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import statistics
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, field

import gen


@dataclass
class Op:
    wall: float
    ok: bool = True           # completed and its output matched
    mismatch: bool = False    # completed but its output did not match
    records: int = 0          # records the API acknowledged
    traced: bool = False
    layer: dict = field(default_factory=dict)   # per-layer readings if traced


def med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


class MockClient:
    def __init__(self, port: int) -> None:
        self.url = f"http://127.0.0.1:{port}"

    def _call(self, path: str, data: bytes | None = None) -> dict:
        req = urllib.request.Request(self.url + path, data=data,
                                     method="POST" if data is not None else "GET")
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read())

    def reset(self) -> None:
        self._call("/_reset", b"{}")

    def stats(self) -> dict:
        return self._call("/_stats")


class Base:
    OP_S = 2.0     # nominal seconds of one timed operation on a 4-vCPU host
    MIN_OPS = 3    # timed operations per run, however short --seconds is
    WARM_OPS = 0   # untimed warm operations after the cold first one
    USES_API = False   # needs the mock API process

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.tr = ctx.tracer

    def timed_ops(self, seconds: float) -> int:
        return max(self.MIN_OPS, round(seconds / self.OP_S))

    def check(self) -> list[Op]:
        return []

    def finish(self) -> list[Op]:
        return []

    # -- figures over the timed operations that completed (``good``) -------
    def op_p50(self, good: list[Op]) -> float:
        return med([o.wall for o in good])

    def records_per_s(self, good: list[Op]) -> float:
        return med([o.records / o.wall for o in good])

    def trace_rows(self, good: list[Op]) -> list[dict]:
        return [o.layer for o in good if o.traced]

    def trace_overhead(self, good: list[Op]) -> float:
        return (med([o.wall for o in good if o.traced])
                - med([o.wall for o in good if not o.traced]))

    def extra_layers(self) -> dict:
        return {}

    def _engine(self, root: dict) -> tuple[dict, dict]:
        """Stage metrics of every job under ``root`` and the ``spark.*``
        per-layer readings made from them."""
        m = self.ctx.store.stage_metrics(self.tr.subtree(root))
        return m, {
            "spark.executor_run_s": m["run_s"],
            "spark.executor_cpu_s": m["cpu_s"],
            "spark.gc_s": m["gc_s"],
            "spark.shuffle_write_bytes": m["shuffle_write_bytes"],
            "trace.span_coverage": self.tr.coverage(root),
        }


# ---- backfill into the HTTP sink ----------------------------------------

class BackfillHttp(Base):
    """First ``cli.cmd_sync`` of a new INCREMENTAL ``visitors`` stream into
    the mock API (config sink ``{"kind": "http"}``, CLI defaults)."""

    ROWS = 30_000
    FILES = 8
    CANARY_ROWS = 2_000
    CANARY_GRACE_S = 2.0
    CANARY_WAIT_S = 60.0
    WARM_OPS = 8   # per-sync driver work still gets faster over the first ~8 syncs
    USES_API = True

    def prepare(self) -> None:
        self.src = os.path.join(self.ctx.work, "backfill")
        self.expect = self._expect(*gen.visitors(self.src, self.ctx.seed, self.ROWS, self.FILES))
        self.canary_src = os.path.join(self.ctx.work, "canary")
        self.canary_expect = self._expect(
            *gen.visitors(self.canary_src, self.ctx.seed + 1, self.CANARY_ROWS, 2))

    @staticmethod
    def _expect(ids, upd) -> dict:
        rejected = [i for i in ids if gen.is_rejected(i)]
        bad = set(rejected)
        return {
            "acked": gen.id_digest(i for i in ids if i not in bad),
            "rejected": gen.id_digest(rejected),
            "bookmark": gen.iso_us(int(upd.max())),
        }

    def _sync(self, i: int, src: str, method: str) -> tuple[float, str, dict | None]:
        from redshift_to_pendo_api_data_pipeline_spark import cli

        stream = {"name": "visitors", "primary_key": "visitor_id",
                  "replication_method": method}
        if method == "INCREMENTAL":
            stream["replication_key"] = "updated_at"
        cfg = {"source": {"kind": "parquet", "dir": src}, "streams": [stream],
               "sink": {"kind": "http", "base_url": self.ctx.mock.url}}
        state_path = os.path.join(self.ctx.work, f"state-{method}-{i}.json")
        with contextlib.redirect_stdout(sys.stderr):   # cmd_sync prints the state
            t0 = time.perf_counter()
            with self.tr.span("op") as root:
                rc = cli.cmd_sync(cfg, state_path)
            wall = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"cmd_sync returned {rc}")
        return wall, state_path, root

    @staticmethod
    def _check(expect: dict, stats: dict, state_path: str | None) -> bool:
        ok = (stats["acked_digest"] == expect["acked"]
              and stats["rejected_digest"] == expect["rejected"])
        if state_path is not None:
            with open(state_path) as fh:
                bm = json.load(fh)["bookmarks"]["visitors"].get("replication_key_value")
            ok = ok and bm == expect["bookmark"]
        if not ok:
            log("backfill check failed:", stats, expect)
        return ok

    def warmup(self) -> Op:
        return self.op(-1)

    def op(self, i: int) -> Op:
        # warm syncs (i < -1) read the small canary table: what still warms
        # after the cold sync is per-sync driver work, not per-row work
        small = i < -1
        self.ctx.mock.reset()
        wall, state_path, root = self._sync(
            i, self.canary_src if small else self.src, "INCREMENTAL")
        stats = self.ctx.mock.stats()
        log(f"perfbench sync {i}: {wall:.3f}s posts={stats['posts']}"
            f" post_window={stats['window_s']:.3f}s mock_busy={stats['busy_s']:.3f}s")
        ok = self._check(self.canary_expect if small else self.expect, stats, state_path)
        op = Op(wall=wall, ok=ok, mismatch=not ok,
                records=stats["records"] - stats["rejected"], traced=root is not None)
        if root is not None:
            self.ctx.store.drain()
            op.layer = self._layers(root, stats)
        return op

    def _layers(self, root: dict, stats: dict) -> dict:
        tr, store = self.tr, self.ctx.store
        m, out = self._engine(root)
        run = [d for s in tr.subtree(root) if s["name"] == "plans.sync.run_sync"
               for d in tr.subtree(s)]
        sink = store.stage_metrics(
            [d for s in tr.subtree(root) if s["name"] == "sink.http_sink"
             for d in tr.subtree(s)])
        run_s = tr.total(root, "plans.sync.run_sync")
        acked = stats["records"] - stats["rejected"]
        posts = stats["posts"]
        out.update({
            "sources.rows_read": m["input_rows"],
            "sources.bytes_read": m["input_bytes"],
            "sources.rows_read_per_record_posted": m["input_rows"] / acked if acked else 0.0,
            "plans.sync.run_sync_s": run_s,
            "plans.sync.self_s": run_s - tr.total(root, "sink.http_sink"),
            "plans.sync.spark_jobs": len(store.jobs(run)),
            "plans.sync.max_bookmark_s": tr.total(root, "plans.sync.max_bookmark"),
            "plans.state.io_s": tr.total(root, "plans.state.io"),
            "sink.http_sink.task_s": sink["run_s"],
            "sink.http_sink.tasks": sink["tasks"],
            "sink.http_sink.post_window_s": stats["window_s"],
            "sink.http_sink.posts": posts,
            "sink.http_sink.records_per_post": stats["records"] / posts if posts else 0.0,
            "sink.http_sink.bytes_per_record":
                stats["bytes"] / stats["records"] if stats["records"] else 0.0,
            "sink.http_sink.quarantined": stats["rejected"],
            "sink.http_sink.replayed_posts": stats["replayed"],
            "sink.http_sink.mock_api_s": stats["busy_s"],
        })
        return out

    def finish(self) -> list[Op]:
        """FULL_TABLE canary: one small FULL_TABLE ``cmd_sync``. It stays
        out of the timed figures but counts as an attempted operation, and
        as a failed one if it has not returned ``CANARY_GRACE_S`` after the
        API acknowledged its last record (or ``CANARY_WAIT_S`` overall)."""
        self.ctx.mock.reset()
        done: dict = {}

        def _run():
            try:
                done["wall"] = self._sync(0, self.canary_src, "FULL_TABLE")[0]
            except Exception as e:  # noqa: BLE001 — reported below as a failed operation
                done["error"] = e

        t0 = time.perf_counter()
        # daemon: a sync that never returns must not keep the process alive
        th = threading.Thread(target=_run, name="full-table-canary", daemon=True)
        th.start()
        delivered = None
        while th.is_alive():
            th.join(0.25)
            now = time.perf_counter()
            if delivered is None:
                if self.ctx.mock.stats()["records"] >= self.CANARY_ROWS:
                    delivered = now
            elif now - delivered > self.CANARY_GRACE_S:
                break
            if now - t0 > self.CANARY_WAIT_S:
                break
        stats = self.ctx.mock.stats()
        if "wall" not in done:
            log(f"FULL_TABLE canary: no return {self.CANARY_GRACE_S:.0f} s after the API"
                f" acknowledged {stats['records']} of {self.CANARY_ROWS} records"
                f" ({done.get('error', 'still waiting')})")
            return [Op(wall=time.perf_counter() - t0, ok=False)]
        ok = self._check(self.canary_expect, stats, None)
        return [Op(wall=done["wall"], ok=ok, mismatch=not ok)]

    def install(self) -> None:
        from redshift_to_pendo_api_data_pipeline_spark import cli
        from redshift_to_pendo_api_data_pipeline_spark.plans import sync
        from redshift_to_pendo_api_data_pipeline_spark.plans.state import State

        tr = self.tr
        State.load = classmethod(tr.wrap("plans.state.io", State.load.__func__))
        State.to_dict = tr.wrap("plans.state.io", State.to_dict)
        cli.load_table = tr.wrap("sources.tables.load_table", cli.load_table)
        cli.run_sync = tr.wrap("plans.sync.run_sync", cli.run_sync)
        sync.max_bookmark = tr.wrap("plans.sync.max_bookmark", sync.max_bookmark)
        make_sink = cli._make_sink
        cli._make_sink = lambda *a, **kw: tr.wrap("sink.http_sink", make_sink(*a, **kw))


# ---- curation queries ---------------------------------------------------

MIX = {   # query -> the table it scans
    "semantic_dedup": "embeddings",        # staging, k-means on the driver, applyInPandas edge
    "c4_line_filters_docs": "documents",   # JVM array algebra behind a width pin
    "q1_pricing_summary": "lineitem",      # scan + aggregate control
}


def value_hash(df) -> str:
    """The registry's oracle hash: sorted column names, ``str()`` cells,
    sorted rows, sha256 (as ``tools/check_oracle.py`` computes it)."""
    cols = sorted(df.columns)
    lines = sorted("\x1f".join(str(v) for v in row)
                   for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class CurationQueries(Base):
    """A fixed mix of registry queries through the noop sink, one at a
    time, over a seeded corpus in the registry's table schemas."""

    ROWS = {"documents": 1_000, "embeddings": 1_000, "lineitem": 120_000}
    OP_S = 4.0   # one pass over the mix
    WARM_OPS = 1   # a query's first run takes 3-4x as long as its later ones
    WARM = "q1_pricing_summary"

    def prepare(self) -> None:
        import __spark_entry__ as entry

        self.corpus = gen.corpus(os.path.join(self.ctx.work, "sfgen"), self.ctx.seed,
                                 self.ROWS["documents"], self.ROWS["embeddings"],
                                 self.ROWS["lineitem"])
        self.entry = entry
        self.qs = {q: entry.queries()[q] for q in MIX}
        self.order = list(MIX)
        random.Random(self.ctx.seed).shuffle(self.order)
        self.times: dict[str, list[float]] = {q: [] for q in MIX}
        self.traced_times: dict[str, list[float]] = {q: [] for q in MIX}
        self.layer_rows: list[dict] = []

    def _run(self, q: str) -> tuple[float, dict | None]:
        t0 = time.perf_counter()
        with self.tr.span("op") as root:
            with self.tr.span(f"operators.{q}.plan"):
                df = self.qs[q](self.ctx.spark, self.corpus)
            with self.tr.span(f"operators.{q}.exec"):
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, root

    def warmup(self) -> Op:
        return Op(wall=self._run(self.WARM)[0])

    def check(self) -> list[Op]:
        """Once per run, outside the timed loop: each mix query's output
        must hash-equal its DuckDB oracle and be non-empty."""
        import duckdb
        from redshift_to_pendo_api_data_pipeline_spark import staging

        # the oracles read staged artifacts under the default root's sf0.01
        oracle_stage = f"{staging.DEFAULT_ROOT}/sf0.01"
        stage = staging.stage_dir(self.corpus)
        oracles = self.entry.oracle_sql()
        ops = []
        with duckdb.connect() as con:
            for t in set(MIX.values()):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.corpus}/{t}.parquet')")
            for q in self.order:
                t0 = time.perf_counter()
                try:
                    got = self.qs[q](self.ctx.spark, self.corpus).toPandas()
                    want = con.execute(oracles[q].replace(oracle_stage, stage)).df()
                except Exception as e:  # noqa: BLE001 — reported as a failed operation
                    log(f"oracle check of {q} raised: {e!r}")
                    ops.append(Op(wall=time.perf_counter() - t0, ok=False))
                    continue
                ok = (len(got) > 0 and sorted(got.columns) == sorted(want.columns)
                      and value_hash(got) == value_hash(want))
                if not ok:
                    log(f"oracle mismatch on {q}: {len(got)} vs {len(want)} rows")
                ops.append(Op(wall=time.perf_counter() - t0, ok=ok, mismatch=not ok))
                log(f"perfbench check {q}: {ops[-1].wall:.3f}s ok={ok}")
        return ops

    def op(self, i: int) -> Op:
        """One pass over the mix in the seed's order; the pass's wall time
        is the sum of its queries' times. In a traced run every other query
        is traced, alternating between passes, so each query has traced
        and untraced samples."""
        total = 0.0
        for k, q in enumerate(self.order):
            self.tr.on = self.ctx.trace and i >= 0 and (i + k) % 2 == 1
            wall, root = self._run(q)
            self.tr.on = False
            log(f"perfbench query {q}: {wall:.3f}s")
            total += wall
            if i >= 0:   # warm passes (i < 0) stay out of the figures
                (self.traced_times if root else self.times)[q].append(wall)
            if root is not None:
                self.ctx.store.drain()
                m, row = self._engine(root)
                row.update({
                    f"operators.{q}.plan_s": self.tr.total(root, f"operators.{q}.plan"),
                    f"operators.{q}.exec_s": self.tr.total(root, f"operators.{q}.exec"),
                    f"operators.{q}.executor_cpu_s": m["cpu_s"],
                    f"operators.{q}.shuffle_bytes": m["shuffle_write_bytes"],
                    f"operators.{q}.spark_jobs": len(self.ctx.store.jobs(self.tr.subtree(root))),
                })
                self.layer_rows.append(row)
        return Op(wall=total)

    def op_p50(self, good: list[Op]) -> float:
        """Sum over the mix of each query's median wall time."""
        return sum(med(self.times[q]) for q in MIX)

    def records_per_s(self, good: list[Op]) -> float:
        """Rows the mix scans per second of a pass, median over passes."""
        rows = sum(self.ROWS[t] for t in MIX.values())
        return med([rows / o.wall for o in good])

    def trace_rows(self, good: list[Op]) -> list[dict]:
        return self.layer_rows   # one reading per traced query execution

    def trace_overhead(self, good: list[Op]) -> float:
        """Sum over the mix of (median traced - median untraced) time."""
        return sum(med(self.traced_times[q]) - med(self.times[q]) for q in MIX)

    def extra_layers(self) -> dict:
        from redshift_to_pendo_api_data_pipeline_spark.staging import stage_root

        staged = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(stage_root()) for f in fs)
        return {"staging.bytes_written": (staged, "bytes")}

    def install(self) -> None:
        pass  # the operator spans are in _run
