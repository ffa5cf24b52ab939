"""In-process pipeline orchestration (SURVEY.md §3.2).

The reference splits orchestration across a DynamoDB-backed Lambda loop
(``lambda/pipeline_orchestrator/lambda_function.py:283-497``: execution
record, ready-job scan over a dependency DAG, ≤50 iterations, final
status) and a retry/circuit-breaker error handler
(``lambda/snowflake_extractor/error_handler.py:31-76,197-377``). In a
Spark-native engine the control plane is the driver process, so the whole
thing collapses to a dependency-driven scheduler over Python callables —
each job a ``dict[str, DataFrame] -> DataFrame`` transform whose laziness
Spark already manages.

:meth:`Pipeline.run` hands each job to a thread pool the moment its last
dependency finishes, so the Spark jobs of independent branches are
submitted concurrently and overlap on the cluster: a driver submitting
one action at a time leaves executors idle through every planning and
py4j gap between them. Each worker labels its Spark jobs with the
pipeline job's name (job group and description), so the UI and event
log attribute concurrent work to its pipeline job.

Scale note: orchestration state is O(jobs), never O(rows) — it stays on
the driver; the pool only overlaps job *submission*, and Spark's
scheduler shares the executors between the concurrent actions.
"""

from __future__ import annotations

import time
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from contextlib import contextmanager
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable


class CircuitBreakerOpen(RuntimeError):
    """Raised when a job is invoked while its breaker is open."""


class DataQualityError(RuntimeError):
    """Raised by quality gates when data fails validation hard enough to
    stop a job (the engine-side analog of the reference's DQ alarm —
    ``auto_recovery.py:239-241`` routes 'data-quality' alarms to a
    validation re-run rather than a blind restart)."""


@dataclass
class CircuitBreaker:
    """Failure-count breaker with timed half-open recovery
    (``error_handler.py:31-76``)."""

    failure_threshold: int = 5
    recovery_timeout_s: float = 60.0
    failures: int = 0
    opened_at: float | None = None

    def check(self) -> None:
        if self.opened_at is None:
            return
        if time.monotonic() - self.opened_at >= self.recovery_timeout_s:
            self.opened_at = None  # half-open: allow one attempt
            return
        raise CircuitBreakerOpen("circuit breaker is open")

    def record_success(self) -> None:
        self.failures = 0
        self.opened_at = None

    def record_failure(self) -> None:
        self.failures += 1
        if self.failures >= self.failure_threshold:
            self.opened_at = time.monotonic()


def execute_with_retry(
    fn: Callable[[], Any],
    max_retries: int = 3,
    base_delay_s: float = 1.0,
    max_delay_s: float = 60.0,
    breaker: CircuitBreaker | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> Any:
    """Exponential-backoff retry (delay = base·2^attempt, capped —
    ``error_handler.py:289-377``; the reference adds jitter, which matters
    for fleets of Lambdas hammering one endpoint, not for a driver loop).
    """
    last_exc: Exception | None = None
    for attempt in range(max_retries + 1):
        if breaker is not None:
            breaker.check()
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 — reference retries broadly
            last_exc = exc
            if breaker is not None:
                breaker.record_failure()
            if attempt == max_retries:
                break
            sleep(min(base_delay_s * (2**attempt), max_delay_s))
        else:
            if breaker is not None:
                breaker.record_success()
            return result
    raise last_exc  # type: ignore[misc]


class ErrorClass(Enum):
    """Failure taxonomy — the reference's ``ErrorType``
    (``lambda/snowflake_extractor/error_handler.py:22-29``), minus the
    vendor-specific members' transports."""

    TRANSIENT = "transient"
    RESOURCE_LIMIT = "resource_limit"
    DATA_QUALITY = "data_quality"
    CONFIGURATION = "configuration"
    AUTHENTICATION = "authentication"
    PERMANENT = "permanent"


#: Keyword → class tiers, checked in order (first match wins) — the
#: reference's string-heuristic fallback (``error_handler.py:121-134``)
#: with the same precedence: network-ish beats resource-ish beats
#: config-ish, unknown defaults to PERMANENT.
_ERROR_KEYWORDS: tuple[tuple[ErrorClass, tuple[str, ...]], ...] = (
    (ErrorClass.AUTHENTICATION, ("authentication", "credential", "access denied", "unauthorized")),
    (ErrorClass.TRANSIENT, ("timeout", "connection", "network", "dns", "unavailable")),
    (ErrorClass.RESOURCE_LIMIT, ("memory", "resource", "limit", "throttl", "quota")),
    (ErrorClass.CONFIGURATION, ("config", "parameter", "invalid", "not found", "no such")),
)


def classify_error(exc: BaseException) -> ErrorClass:
    """Map an exception to its :class:`ErrorClass`
    (``error_handler.py:82-134``, re-keyed to Spark-native exception
    types: AnalysisException is a plan/catalog problem = CONFIGURATION,
    a breaker trip means downstream pressure = RESOURCE_LIMIT, and this
    package's :class:`DataQualityError` is first-class)."""
    if isinstance(exc, DataQualityError):
        return ErrorClass.DATA_QUALITY
    if isinstance(exc, CircuitBreakerOpen):
        return ErrorClass.RESOURCE_LIMIT
    try:  # typed before stringly: the Spark exception hierarchy when present
        from pyspark.errors import AnalysisException

        if isinstance(exc, AnalysisException):
            return ErrorClass.CONFIGURATION
    except ImportError:  # pragma: no cover — pyspark is a hard dep here
        pass
    if isinstance(exc, MemoryError):
        return ErrorClass.RESOURCE_LIMIT
    if isinstance(exc, (ConnectionError, TimeoutError, OSError)):
        return ErrorClass.TRANSIENT
    text = f"{type(exc).__name__} {exc}".lower()
    for cls, needles in _ERROR_KEYWORDS:
        if any(n in text for n in needles):
            return cls
    return ErrorClass.PERMANENT


class RecoveryAction(Enum):
    """What the orchestrator does with a classified failure."""

    RETRY = "retry"          #: re-drive the job with backoff (bounded)
    QUARANTINE = "quarantine"  #: record the failure, let dependents run
    SKIP = "skip"            #: record the failure, dependents are skipped
    HALT = "halt"            #: stop the pipeline, remaining jobs skipped


#: Default class → action mapping, mirroring the reference's routing:
#: transient/resource alarms restart the job (``auto_recovery.py:233-237``),
#: data-quality alarms re-validate and the pipeline continues
#: (``auto_recovery.py:239-241``), auth/config/permanent failures page a
#: human — no automated recovery is sound, so the DAG halts.
DEFAULT_RECOVERY_ACTIONS: dict[ErrorClass, RecoveryAction] = {
    ErrorClass.TRANSIENT: RecoveryAction.RETRY,
    ErrorClass.RESOURCE_LIMIT: RecoveryAction.RETRY,
    ErrorClass.DATA_QUALITY: RecoveryAction.QUARANTINE,
    ErrorClass.CONFIGURATION: RecoveryAction.HALT,
    ErrorClass.AUTHENTICATION: RecoveryAction.HALT,
    ErrorClass.PERMANENT: RecoveryAction.HALT,
}


@dataclass
class RecoveryPolicy:
    """Bounded auto-recovery — the engine half of the reference's recovery
    Lambda (``terraform/modules/monitoring/lambda_functions/auto_recovery.py:29-104``):
    classify the failure, act per class, and never exceed
    ``max_recovery_attempts`` re-drives of one job
    (``MAX_RECOVERY_ATTEMPTS`` at ``auto_recovery.py:24,63-72`` — when the
    bound is hit the reference notifies and stops retrying; here the
    exhausted job falls through to its class's non-retry consequence,
    recorded in the execution record the alerting surface consumes).

    Scale note: recovery state is O(jobs) driver memory, exactly like the
    rest of the orchestrator — the reference needs a DynamoDB attempt
    table only because its control plane is stateless Lambdas.
    """

    actions: dict[ErrorClass, RecoveryAction] = field(
        default_factory=lambda: dict(DEFAULT_RECOVERY_ACTIONS)
    )
    max_recovery_attempts: int = 3
    base_delay_s: float = 1.0
    max_delay_s: float = 60.0
    #: what an exhausted retryable job degrades to (reference: notify +
    #: stop — i.e. the failure stands and the DAG decides; SKIP keeps
    #: sibling branches alive, HALT would stop the world).
    exhausted_action: RecoveryAction = RecoveryAction.SKIP

    def decide(self, exc: BaseException, attempts_so_far: int) -> tuple[ErrorClass, RecoveryAction]:
        cls = classify_error(exc)
        action = self.actions.get(cls, RecoveryAction.HALT)
        if action is RecoveryAction.RETRY and attempts_so_far >= self.max_recovery_attempts:
            return cls, self.exhausted_action
        return cls, action

    def delay_s(self, attempt: int) -> float:
        return min(self.base_delay_s * (2**attempt), self.max_delay_s)


@dataclass
class Job:
    """One pipeline node: a named transform with upstream dependencies.

    ``fn`` receives the dict of upstream results keyed by job name (plus
    any initial inputs) and returns this job's result (typically a
    DataFrame, but any value works — quality reports, run stats, paths).
    """

    name: str
    fn: Callable[[dict[str, Any]], Any]
    depends_on: tuple[str, ...] = ()
    max_retries: int = 0


@dataclass
class _Outcome:
    """A job's final state as its worker thread leaves it."""

    state: str  # succeeded / quarantined / failed
    seconds: float
    result: Any = None
    error: str | None = None
    recovery: dict[str, Any] | None = None


@contextmanager
def _spark_job_label(name: str):
    """Label the Spark jobs this thread submits with the pipeline job's
    name (job group and description), so the UI and event log attribute
    concurrent work to its pipeline job; cleared on exit because pool
    threads are reused. A no-op without an active SparkContext."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        yield
        return
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


@dataclass
class Pipeline:
    """Dependency-DAG pipeline with the reference's execution-record shape.

    ``run`` is dependency-driven: a job is handed to a thread pool the
    moment its last dependency finishes (the reference's ready-job scan,
    ``get_ready_jobs``, ``lambda_function.py:283-307``, without its
    wave barrier), so Spark jobs of independent branches overlap on the
    cluster. A failed job's dependents are never started and end
    ``skipped``; its siblings carry on.

    With a :class:`RecoveryPolicy` attached, a job failure is classified
    and acted on instead of standing: transient/resource failures are
    re-driven with backoff (bounded), data-quality failures are
    quarantined and their dependents still run, config/auth/permanent
    failures halt the DAG — the reference's alarm-driven recovery loop
    folded into the driver. A halt stops scheduling: no job starts after
    it, jobs already running finish and keep their real status, and
    every job not started ends ``skipped``.

    Jobs run concurrently, so ``fn`` must not rely on results other than
    its dependencies' (each job gets a snapshot of the results finished
    when it was submitted), and per-job ``durations`` may overlap in
    wall time.
    """

    jobs: list[Job] = field(default_factory=list)
    recovery: RecoveryPolicy | None = None

    def add(self, name: str, fn, depends_on: tuple[str, ...] = (), max_retries: int = 0) -> "Pipeline":
        if any(j.name == name for j in self.jobs):
            raise ValueError(f"duplicate job name {name!r}")
        self.jobs.append(Job(name, fn, tuple(depends_on), max_retries))
        return self

    def _validate(self) -> None:
        names = {j.name for j in self.jobs}
        for j in self.jobs:
            missing = set(j.depends_on) - names
            if missing:
                raise ValueError(f"job {j.name!r} depends on unknown jobs {sorted(missing)}")

    def _execute(self, job: Job, results: dict[str, Any], sleep, clock) -> _Outcome:
        """Drive one job to its final state (worker thread): retries,
        then the recovery policy's re-drives and verdict."""
        attempts = 0
        recovery = None
        t0 = clock()
        with _spark_job_label(job.name):
            while True:
                try:
                    result = execute_with_retry(
                        lambda: job.fn(results), max_retries=job.max_retries, sleep=sleep
                    )
                except Exception as exc:  # noqa: BLE001
                    error = f"{type(exc).__name__}: {exc}"
                    if self.recovery is None:
                        return _Outcome("failed", clock() - t0, error=error)
                    cls, action = self.recovery.decide(exc, attempts)
                    recovery = {"error_class": cls.value, "action": action.value, "attempts": attempts}
                    if action is RecoveryAction.RETRY:
                        sleep(self.recovery.delay_s(attempts))
                        attempts += 1
                        continue  # re-drive; a new failure re-classifies
                    # SKIP and HALT both leave the job failed
                    state = "quarantined" if action is RecoveryAction.QUARANTINE else "failed"
                    return _Outcome(state, clock() - t0, error=error, recovery=recovery)
                if attempts:  # recovered: not a failure
                    recovery["recovered"] = True
                return _Outcome("succeeded", clock() - t0, result, recovery=recovery)

    def run(
        self,
        inputs: dict[str, Any] | None = None,
        sleep: Callable[[float], None] = time.sleep,
        clock: Callable[[], float] = time.monotonic,
    ) -> dict[str, Any]:
        """Execute the DAG; returns an execution record:
        ``{status, results, job_status, failed, recovery, iterations,
        durations}`` (``durations`` holds per-job wall seconds, retries
        included — the input :func:`critical_path` consumes; with
        concurrent jobs they overlap). ``iterations`` is the depth of the
        deepest job started, counted in jobs. Every key comes out in job
        declaration order, whatever order the jobs finish in.

        ``status`` is ``succeeded`` / ``failed``, or ``partial`` when the
        only degradations are quarantined data-quality jobs (the
        reference's COMPLETED / FAILED / PARTIAL ladder,
        ``notification_alerting/lambda_function.py`` status mapping).
        """
        self._validate()
        #: dependencies not yet satisfied, per job; a quarantined upstream
        #: satisfies too — its dependents must tolerate the missing result
        unmet = {j.name: len(set(j.depends_on)) for j in self.jobs}
        dependents: dict[str, list[Job]] = {j.name: [] for j in self.jobs}
        for j in self.jobs:
            for d in set(j.depends_on):
                dependents[d].append(j)
        finished = dict(inputs or {})  # the results a newly submitted job sees
        outcomes: dict[str, _Outcome] = {}
        depth: dict[str, int] = {}
        ready = [j for j in self.jobs if not unmet[j.name]]
        halted = False
        with ThreadPoolExecutor() as pool:
            running: dict[Future, Job] = {}
            while True:
                for job in [] if halted else ready:
                    depth[job.name] = 1 + max((depth[d] for d in job.depends_on), default=0)
                    running[pool.submit(self._execute, job, dict(finished), sleep, clock)] = job
                ready = []
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    job = running.pop(fut)
                    out = outcomes[job.name] = fut.result()
                    halted |= (out.recovery or {}).get("action") == RecoveryAction.HALT.value
                    if out.state == "failed":
                        continue  # its dependents are never started
                    if out.state == "succeeded":
                        finished[job.name] = out.result
                    for dep in dependents[job.name]:
                        unmet[dep.name] -= 1
                        if not unmet[dep.name]:
                            ready.append(dep)

        ran = [(j.name, outcomes[j.name]) for j in self.jobs if j.name in outcomes]
        # anything never started is unreachable or halted
        status = {j.name: "skipped" for j in self.jobs} | {n: o.state for n, o in ran}
        states = set(status.values())
        if states <= {"succeeded"}:
            overall = "succeeded"
        elif states <= {"succeeded", "quarantined"}:
            overall = "partial"
        else:
            overall = "failed"
        return {
            "status": overall,
            "results": dict(inputs or {}) | {n: o.result for n, o in ran if o.state == "succeeded"},
            "job_status": status,
            "failed": {n: o.error for n, o in ran if o.state != "succeeded"},
            "recovery": {n: o.recovery for n, o in ran if o.recovery},
            "iterations": max(depth.values(), default=0),
            "durations": {n: o.seconds for n, o in ran},
        }


def critical_path(pipeline: Pipeline, record: dict[str, Any]) -> dict[str, Any]:
    """Longest-duration dependency chain through an execution record —
    the chain that bounds the pipeline's wall-clock however many
    executors run the other branches in parallel (speeding up any job
    NOT on this path cannot shorten the run).

    Standard DAG longest-path DP in topological order (the validated
    ``jobs`` list plus ``depends_on`` edges). Jobs with no recorded
    duration (skipped / halted-before-start) count 0 so a partial run
    still yields the critical prefix. Returns ``{path, total_s,
    job_seconds}`` with ``path`` upstream-first.
    """
    pipeline._validate()
    durations = record.get("durations", {})
    jobs = {j.name: j for j in pipeline.jobs}
    longest: dict[str, float] = {}
    prev: dict[str, str | None] = {}

    remaining = list(pipeline.jobs)
    while remaining:  # topological sweep; _validate guarantees progress
        progressed = False
        still = []
        for j in remaining:
            if all(d in longest for d in j.depends_on):
                best_dep = max(
                    j.depends_on, key=lambda d: (longest[d], d), default=None
                )
                base = longest[best_dep] if best_dep is not None else 0.0
                longest[j.name] = base + float(durations.get(j.name, 0.0))
                prev[j.name] = best_dep
                progressed = True
            else:
                still.append(j)
        if not progressed:
            cyc = sorted(j.name for j in still)
            raise ValueError(f"dependency cycle among {cyc}")
        remaining = still

    if not longest:
        return {"path": [], "total_s": 0.0, "job_seconds": {}}
    end = max(longest, key=lambda n: (longest[n], n))
    path: list[str] = []
    cur: str | None = end
    while cur is not None:
        path.append(cur)
        cur = prev[cur]
    path.reverse()
    return {
        "path": path,
        "total_s": longest[end],
        "job_seconds": {n: float(durations.get(n, 0.0)) for n in path},
    }
