"""Workloads, set-up, the closed-loop client and the timed run of the CCM
benchmark (see run.py for the workloads and the output contract)."""

from __future__ import annotations

import os
import resource
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: the numpy oracle and Spark agree to this absolute tolerance
#: (tests/test_ccm_core.py); aggregation order differs, so not bit-equal
TOL = 1e-9
#: JVM heap, in place of the session's 16 GB default: it caps the resident
#: set (about 5 GB at pair_plan's size) on a shared machine
DRIVER_MEMORY = "4g"


@dataclass(frozen=True)
class Workload:
    name: str
    pairs: int  # pairs per call
    points: int  # points per series (N)
    samples: int  # bootstrap samples per lib size (S)

    @property
    def fleet(self) -> bool:
        return self.name != "pair_plan"


#: pair_plan's N=300, S=20 puts most of a call into the kNN join and top-k
#: window. fleet_fast is a quarter of a 128-pair fleet at half the samples:
#: the full fleet's untimed oracle alone takes over a minute single-threaded
#: and each call over 20 s, which no run of BENCHMARK.json's time budget
#: can hold. fleet_plan calls take 10-16 s after a cold first call of ~20 s,
#: too slow for a steady median within that budget, so BENCHMARK.json
#: lists only the other two.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("pair_plan", pairs=1, points=300, samples=20),
        Workload("fleet_fast", pairs=32, points=300, samples=10),
        Workload("fleet_plan", pairs=16, points=150, samples=10),
    )
}
TOY = {
    "pair_plan": Workload("pair_plan", pairs=1, points=40, samples=3),
    "fleet_fast": Workload("fleet_fast", pairs=4, points=40, samples=3),
    "fleet_plan": Workload("fleet_plan", pairs=4, points=40, samples=3),
}


def cores() -> int:
    """Usable cores, as ``nproc`` reports them without OMP_NUM_THREADS."""
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    return os.getloadavg()[0]


def prepare_env(work: Path, n_cores: int) -> None:
    """Process environment, set before pyspark or numpy is imported: Spark's
    Python workers inherit it from the JVM this process launches."""
    root = str(ROOT)
    sys.path.insert(0, root)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = str(work / "tmp")
    # one thread per Spark core: numpy kernels in workers and the
    # in-process oracle must not fan out past local[N]
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"


def spark_conf(work: Path, extra: dict[str, str] | None = None) -> dict[str, str]:
    tmp = work / "tmp"
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra or {})
    return conf


# --------------------------------------------------------------------------
# inputs


def make_pair(wl: Workload, seed: int, pid: int) -> tuple[int, "np.ndarray", "np.ndarray"]:
    """G2 forced coupled pair ``pid``, every parameter drawn from
    (``seed``, ``pid``): a fleet is pairs 0..P-1, and pair_plan's call i
    runs pair i."""
    import numpy as np

    from ccm_spark.generators import coupled_series

    rng = np.random.default_rng([seed, pid])
    x, y = coupled_series(
        length=wl.points - 1,
        coupling=float(rng.uniform(0.05, 0.4)),
        noise_level=float(rng.uniform(0.0, 0.05)),
        x0=float(rng.uniform(0.2, 0.8)),
        y0=float(rng.uniform(0.2, 0.8)),
        seed=int(rng.integers(1, 2**31 - 1)),
    )
    return pid, x, y


def ccm_config(wl: Workload, seed: int):
    from ccm_spark.config import CCMConfig

    return CCMConfig(num_samples=wl.samples, seed=seed % 100_000 + 1)


def fleet_dir(work: Path) -> str:
    return str(work / "inputs")


@dataclass
class Session:
    spark: object
    pairs: list  # the fleet (empty on pair_plan, whose pairs come per call)
    phases: list  # (span name, start, end) in perf_counter seconds

    @property
    def durations(self) -> dict:
        return {name: end - start for name, start, end in self.phases}


def set_up(wl: Workload, seed: int, work: Path, n_cores: int, extra_conf=None) -> Session:
    """Set-up: session (JVM launch included), Python worker warm-up, input
    generation, and (fleets) the parquet write the calls read back."""
    from ccm_spark.generators import pairs_to_pdf
    from ccm_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        f"perfbench-{wl.name}",
        master=f"local[{n_cores}]",
        shuffle_partitions=n_cores,
        extra_conf=spark_conf(work, extra_conf),
    )
    # start one Arrow Python worker per core before the first call
    spark.range(n_cores, numPartitions=n_cores).mapInPandas(
        lambda it: it, "id long"
    ).collect()
    t_session = time.perf_counter()
    pairs = [make_pair(wl, seed, pid) for pid in range(wl.pairs)] if wl.fleet else []
    t_gen = time.perf_counter()
    if wl.fleet:
        spark.createDataFrame(pairs_to_pdf(pairs)).write.mode("overwrite").parquet(
            f"{fleet_dir(work)}/fleet.parquet"
        )
    t_write = time.perf_counter()
    phases = [
        ("session.start", t, t_session),
        ("generators", t_session, t_gen),
        ("sources.write", t_gen, t_write),
    ]
    return Session(spark, pairs, phases)


def oracle_result(wl: Workload, seed: int, pair) -> tuple[dict, float]:
    """{(direction, lib_size): (correlation, slope, convergent)} for one
    pair, plus the in-process wall time of its oracle sweep."""
    from ccm_spark import oracle

    _, x, y = pair
    t = time.perf_counter()
    res = oracle.bidirectional_ccm(x, y, ccm_config(wl, seed))
    kernel_s = time.perf_counter() - t
    want = {
        (d, int(ls)): (corr, r["slope"], bool(r["convergent"]))
        for d, r in res.items()
        for ls, corr in r["results"]
    }
    return want, kernel_s


# --------------------------------------------------------------------------
# one user call per workload, and its check


def rows_match(got: dict, want: dict) -> bool:
    """Same keys; correlation and slope within TOL; same convergent flag.
    A missing slope (the single-pair API returns none) is not compared."""
    if got.keys() != want.keys():
        return False
    for key, (corr, slope, conv) in got.items():
        w_corr, w_slope, w_conv = want[key]
        if abs(corr - w_corr) > TOL or conv != w_conv:
            return False
        if slope is not None and abs(slope - w_slope) > TOL:
            return False
    return True


def fleet_rows(rows) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r.pair_id, {})[(r.direction, r.lib_size)] = (
            r.correlation,
            r.slope,
            r.convergent,
        )
    return out


def pair_call(spark, wl: Workload, seed: int, pair) -> dict:
    """pair_plan: the reference's whole API for one pair."""
    from ccm_spark import CCM

    _, x, y = pair
    cfg = ccm_config(wl, seed)
    res = CCM(spark, x, y, num_samples=cfg.num_samples, seed=cfg.seed).bidirectional_ccm()
    return {
        (d, int(ls)): (corr, None, bool(r["convergent"]))
        for d, r in res.items()
        for ls, corr in r["results"]
    }


def fleet_call(spark, wl: Workload, seed: int, work: Path) -> dict:
    """fleet_fast / fleet_plan: read the fleet, run the path, collect."""
    from ccm_spark import CCM
    from ccm_spark.fastpath import ccm_apply_in_pandas
    from ccm_spark.sources.tables import load_table

    cfg = ccm_config(wl, seed)
    series = load_table(spark, fleet_dir(work), "fleet")
    if wl.name == "fleet_fast":
        result = ccm_apply_in_pandas(series, cfg)
    else:
        result = CCM.from_dataframe(
            series, num_samples=cfg.num_samples, seed=cfg.seed
        ).result_df()
    return fleet_rows(result.collect())


def all_match(got: dict, want: dict) -> bool:
    """Per-pair results: same pairs, and each pair's rows match."""
    return got.keys() == want.keys() and all(rows_match(got[p], want[p]) for p in got)


class Client:
    """The closed-loop client: call i runs pair i on pair_plan, and the
    whole fleet on the fleet workloads. Oracle results are computed
    untimed: the fleet's once after set-up, pair_plan's before each call."""

    def __init__(self, wl: Workload, seed: int, work: Path, sess: Session):
        self.wl, self.seed, self.work, self.sess = wl, seed, work, sess
        self.attempted = 0
        self.failed = 0
        self.kernel_s: list[float] = []
        self.expected: dict = {}  # pair_id -> oracle rows
        for pair in sess.pairs:
            self.expected[pair[0]], k = oracle_result(wl, seed, pair)
            self.kernel_s.append(k)

    def next_pair(self):
        """pair_plan: the pair of the next call, with its oracle rows."""
        pair = make_pair(self.wl, self.seed, self.attempted)
        want, k = oracle_result(self.wl, self.seed, pair)
        self.kernel_s.append(k)
        return pair, want

    def check(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1

    def call(self) -> float:
        """One user call: returns its wall time, cache release included;
        a raise or a result that differs from the oracle counts as failed."""
        spark = self.sess.spark
        i = self.attempted
        pair, want = (None, None) if self.wl.fleet else self.next_pair()
        t = time.perf_counter()
        try:
            if self.wl.fleet:
                ok = all_match(fleet_call(spark, self.wl, self.seed, self.work), self.expected)
            else:
                ok = rows_match(pair_call(spark, self.wl, self.seed, pair), want)
        except Exception as exc:  # a failed call is a measured outcome
            print(f"# call {i} raised {type(exc).__name__}: {exc}", file=sys.stderr)
            ok = False
        spark.catalog.clearCache()
        wall = time.perf_counter() - t
        self.check(ok)
        return wall


# --------------------------------------------------------------------------
# process-level measurements and teardown


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """JVM VmHWM plus this process's ru_maxrss, in MB."""
    hwm_kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def shutdown(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM, and wait for it and the Python workers it
    started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = _descendants(os.getpid()) - {os.getpid()}
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=timeout_s)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        alive = {p for p in spawned if os.path.exists(f"/proc/{p}")}
        if not alive:
            return
        time.sleep(0.1)
    for p in spawned:
        if os.path.exists(f"/proc/{p}"):
            os.kill(p, 9)


# --------------------------------------------------------------------------
# the two modes


def metric(value: float, unit: str, n: int | None = None) -> dict:
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    return out


def timed_run(
    wl: Workload, seed: int, seconds: float, work: Path, n_cores: int, t0: float
) -> dict:
    """Set-up once, from process start (``t0``) until the first call can be
    made; then the cold first call; then one untimed warm-up call, since
    the call after the cold one is still markedly slower as the JVM
    compiles; then warm calls back to back until their summed wall time
    reaches ``seconds``."""
    sess = set_up(wl, seed, work, n_cores)
    setup = time.perf_counter() - t0
    client = Client(wl, seed, work, sess)
    first = client.call()
    client.call()
    calls = []
    while not calls or sum(calls) < seconds:
        calls.append(client.call())
    print(f"# timed calls (s): {[round(c, 3) for c in calls]}", file=sys.stderr)
    rss = peak_rss_mb(sess.spark)
    shutdown(sess.spark)
    metrics = {
        "setup_s": metric(setup, "s", 1),
        "first_call_s": metric(first, "s", 1),
        "call_p50_s": metric(statistics.median(calls), "s", len(calls)),
        "pairs_per_s": metric(wl.pairs * len(calls) / sum(calls), "pairs/s", len(calls)),
    }
    info = {
        "failed_frac": metric(client.failed / client.attempted, "ratio", client.attempted),
        "peak_rss_mb": metric(rss, "MB", 1),
    }
    return {"client": client, "metrics": metrics, "info": info}


