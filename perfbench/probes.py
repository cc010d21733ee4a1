"""Instruments the traced run installs from outside the program.

* Wrappers around the fit's kernel factories,
  ``core.kernels.make_<kind>_kernel`` for each of ``KERNEL_KINDS``: the
  kernel a factory returns is wrapped so the Python worker times its own
  compute (time spent waiting for input batches excluded) and counts its
  input rows.  Both go back to the driver through accumulators.
* A wrapper around ``core.algorithm.kmeans_centers`` (driver span).
* A wrapper around ``io.session_memo`` that counts calls and calls of the
  ``build`` callable: a call that does not build is a memo hit.
* :class:`SparkCounters` reads job, stage and task figures for a range
  of job ids from Spark's status store, which works with the UI off.
"""

from __future__ import annotations

import time

KERNEL_KINDS = ("round", "cold_start", "estep", "moe_partials", "correct")


def _timed_kernel(kernel, secs, rows):
    def timed(it):
        waited, n_rows = 0.0, 0

        def source():
            nonlocal waited, n_rows
            while True:
                t = time.perf_counter()
                try:
                    pdf = next(it)
                except StopIteration:
                    return
                finally:
                    waited += time.perf_counter() - t
                n_rows += len(pdf)
                yield pdf

        gen = kernel(source())
        busy = 0.0
        while True:
            t = time.perf_counter()
            try:
                out = next(gen)
            except StopIteration:
                break
            finally:
                busy += time.perf_counter() - t
            yield out
        secs.add(busy - waited)
        rows.add(n_rows)

    return timed


class Instruments:
    """Patches the program's layer entry points for one SparkContext."""

    def __init__(self, spark, tracer):
        sc = spark.sparkContext
        self.tracer = tracer
        self.kernel_s = {k: sc.accumulator(0.0) for k in KERNEL_KINDS}
        self.kernel_rows = {k: sc.accumulator(0) for k in KERNEL_KINDS}
        self.memo = MemoCounter(tracer)
        self._undo: list[tuple[object, str, object]] = []

    def _patch(self, module, name: str, replacement) -> None:
        self._undo.append((module, name, getattr(module, name)))
        setattr(module, name, replacement)

    def install(self) -> None:
        from harmony_spark import io
        from harmony_spark.core import algorithm, kernels

        for kind in KERNEL_KINDS:
            factory = getattr(kernels, f"make_{kind}_kernel")
            self._patch(kernels, f"make_{kind}_kernel", self._wrap_factory(factory, kind))
        kmeans_centers = algorithm.kmeans_centers

        def traced_kmeans(*args, **kwargs):
            with self.tracer.span("kmeans.init"):
                return kmeans_centers(*args, **kwargs)

        self._patch(algorithm, "kmeans_centers", traced_kmeans)
        self._patch(io, "session_memo", self.memo.wrap(io.session_memo))

    def uninstall(self) -> None:
        while self._undo:
            module, name, original = self._undo.pop()
            setattr(module, name, original)

    def _wrap_factory(self, factory, kind: str):
        secs, rows = self.kernel_s[kind], self.kernel_rows[kind]

        def make(*args, **kwargs):
            return _timed_kernel(factory(*args, **kwargs), secs, rows)

        return make

    def snapshot(self) -> dict[str, float]:
        out = {f"kernels.{k}_s": a.value for k, a in self.kernel_s.items()}
        out["kernels.rows"] = sum(a.value for a in self.kernel_rows.values())
        out["io.memo_builds"] = self.memo.builds
        out["io.memo_hits"] = self.memo.calls - self.memo.builds
        return out


class MemoCounter:
    """Counts ``io.session_memo`` calls and the calls of the ``build``
    callable passed to it; with the memo off every call builds."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.calls = 0
        self.builds = 0

    def wrap(self, session_memo):
        def counted(spark, key, build):
            def counted_build():
                self.builds += 1
                with self.tracer.span(f"io.memo_build:{key[0]}"):
                    return build()

            self.calls += 1
            return session_memo(spark, key, counted_build)

        return counted


def _ms(option_date) -> float:
    return option_date.get().getTime() / 1000.0


class SparkCounters:
    """Job/stage/task figures of the jobs an operation ran."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._counted_stages: set[int] = set()

    def next_job_id(self) -> int:
        v = self._sc.dagScheduler().nextJobId()
        return v if isinstance(v, int) else v.get()

    def cache_bytes(self) -> int:
        return sum(int(r.memSize()) + int(r.diskSize()) for r in self._sc.getRDDStorageInfo())

    def jobs(self, first: int, stop: int) -> tuple[dict[str, float], list[tuple[float, float]]]:
        """Totals over jobs ``[first, stop)`` and their (start, end)
        epoch-second intervals.  A stage that several jobs share is
        counted once, by the first job that ran it."""
        self._sc.listenerBus().waitUntilEmpty()
        totals = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0.0,
        )
        intervals = []
        for jid in range(first, stop):
            job = self._store.job(jid)
            totals["jobs"] += 1
            intervals.append((_ms(job.submissionTime()), _ms(job.completionTime())))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._counted_stages:
                    continue
                stage = self._store.lastStageAttempt(sid)
                if stage.status().toString() != "COMPLETE":
                    continue
                self._counted_stages.add(sid)
                totals["stages"] += 1
                totals["tasks"] += stage.numCompleteTasks()
                totals["executor_run_s"] += stage.executorRunTime() / 1e3
                totals["executor_cpu_s"] += stage.executorCpuTime() / 1e9
                totals["gc_s"] += stage.jvmGcTime() / 1e3
                totals["shuffle_read_bytes"] += stage.shuffleReadBytes()
                totals["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                totals["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
        return totals, intervals


def plan_ms(df) -> float:
    """Analysis + optimization + planning milliseconds of ``df``'s own
    query execution (forcing its physical plan if no action planned it).

    Only that one DataFrame's plan: the other queries an operation runs
    along the way (each ``count()`` or ``collect()`` of an intermediate)
    are planned in query executions this does not see."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        summary = phases.get(name)
        if summary.isDefined():
            total += summary.get().durationMs()
    return total
