"""Fixed-CPU-work host-speed calibration for a shared, noisy VM.

A latency probe (tiny Spark jobs timed back to back) catches scheduler stalls,
but NOT noisy-neighbor throughput degradation: a sibling VM saturating the
physical cores' memory bandwidth / SMT siblings cuts instructions-per-cycle
severalfold while tiny `spark.range(100).count()` jobs still complete in
~150 ms. Probe-FAST sweeps of the identical code+input have measured 36 s
and 169 s local[8] builds — a 4.7× spread no engine change explains.

This probe times FIXED work, so its rate is a direct host-speed scalar:

- ``st_matmul_gflops``: single-thread 768² float64 matmul (BLAS pinned to
  1 thread) — FPU + memory-bandwidth sensitive.
- ``st_py_mops``: single-thread pure-Python arithmetic loop — IPC
  sensitive, immune to BLAS/threading effects.
- ``mt8_sustained_mops``: the same loop in 8 concurrent processes over one
  uninterrupted ~10 s window (stall-INCLUSIVE aggregate) — shows whether
  multi-core scaling or steady-state throughput is degraded.
- ``disk_w_mbps``: 256 MB buffered write + fsync — the resource a Spark
  build's parquet/shuffle writes actually contend on.
- ``st_membw_gbs`` / ``mt8_membw_gbs``: large-array memcpy bandwidth —
  THE decisive signal on this host. 2026-08-17 measured 0.16 GB/s
  single-thread (healthy hosts: 10-30) with zero guest PSI, free RAM and
  normal ALU/matmul rates: a hypervisor-side memory-bandwidth collapse
  that slows Spark builds (Arrow/shuffle/parquet are bandwidth-bound)
  4-6x while every cache-resident CPU probe reads healthy. Identical
  round-2 code + input: 13,832 docs/s in its clean window, 2,159 docs/s
  in that degraded window (BENCH/ABCHECK.md).

Every run appends to BENCH/HOSTSPEED.jsonl so windows are classifiable
post-hoc; ``--gate`` compares against the best recorded rates and exits
non-zero when the host is slower than GATE_FRACTION of its observed best
(i.e. "don't publish benchmark numbers from this window").

Usage: python scripts/host_speed.py [--gate] [--quiet]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")
# 2026-08-19 host regime: transparent-huge-page faults turned pathological
# (~15 ms per 2 MB fault vs ~50 us healthy; 4 KB faults stayed ~2-5 us).
# numpy madvises MADV_HUGEPAGE on every >=4 MB buffer, so ANY fresh-buffer
# ufunc (and the bench's Arrow workers) crawled while memcpy/scalar probes
# read record-fast. The workload now disables numpy's THP madvise
# (bench.py sets the same env), so the probes must measure the host the
# same way; thp_fault_ms_per_2mb below tracks the pathology explicitly.
os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
# Same 2026-08-19 host change: the VM's CPUID string changed and OpenBLAS's
# DYNAMIC_ARCH runtime dispatch now misdetects it, silently falling back to
# a generic kernel (17 GFLOPS vs 53-56 with an explicitly named kernel —
# verified by forcing HASWELL and SKYLAKEX, both full speed, so there is no
# instruction-level slowdown). Pin the AVX2 kernel so st_matmul_gflops
# measures the HOST, not OpenBLAS's dispatch table. The engine's bench path
# has no GEMM anywhere, so this affects the probe only.
os.environ.setdefault("OPENBLAS_CORETYPE", "HASWELL")

import numpy as np  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOG = os.path.join(REPO, "BENCH", "HOSTSPEED.jsonl")
GATE_FRACTION = 0.75
MEMBW_FLOOR_GBS = 2.0
#: absolute floor for 8-thread memcpy: clean-era readings sit at 110-150
#: GB/s, degraded windows at 50-75; an absolute floor avoids ratcheting
#: against a single outlier best
MT8_MEMBW_FLOOR_GBS = 90.0
_N = 768
_PY_ITERS = 2_000_000


def _matmul_gflops(reps: int = 6) -> float:
    a = np.random.default_rng(0).standard_normal((_N, _N))
    b = np.random.default_rng(1).standard_normal((_N, _N))
    a @ b  # warm
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        a @ b
        best = min(best, time.perf_counter() - t0)
    return 2.0 * _N**3 / best / 1e9


def _py_loop(_arg: int = 0) -> float:
    """Mops/s of a fixed pure-Python arithmetic loop (best of 3)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(_PY_ITERS):
            acc += i * i & 1023
        best = min(best, time.perf_counter() - t0)
    assert acc >= 0
    return _PY_ITERS / best / 1e6


def _py_sustained(reps: int = 25) -> float:
    """Mops/s over ONE uninterrupted window (stall-INCLUSIVE, no best-of):
    a best-of metric threads between multi-second host stalls; a 60 s Spark
    build cannot. ~15-20 s of work per call on a healthy core."""
    t0 = time.perf_counter()
    acc = 0
    for _ in range(reps):
        for i in range(_PY_ITERS):
            acc += i * i & 1023
    wall = time.perf_counter() - t0
    assert acc >= 0
    return reps * _PY_ITERS / wall / 1e6


def _membw_gbs(_arg: int = 0) -> float:
    """Streaming memcpy GB/s (read+write counted) over a 128 MB array."""
    a = np.zeros(1 << 27, dtype=np.uint8)
    b = np.empty_like(a)
    np.copyto(b, a)  # warm / fault pages
    t0 = time.perf_counter()
    reps = 4
    for _ in range(reps):
        np.copyto(b, a)
    wall = time.perf_counter() - t0
    return reps * 2 * a.nbytes / wall / 1e9


def _disk_w_mbps(path: str = "/tmp/.hostspeed_io", mb: int = 256) -> float:
    buf = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as fh:
        for _ in range(mb):
            fh.write(buf)
        fh.flush()
        os.fsync(fh.fileno())
    wall = time.perf_counter() - t0
    os.unlink(path)
    return mb / wall


def _npy_thp_fill_gbs() -> float:
    """First-touch fill rate of a fresh 64 MB numpy buffer WITH numpy's
    default MADV_HUGEPAGE behavior (run in a subprocess so this process's
    NUMPY_MADVISE_HUGEPAGE=0 doesn't mask it) — telemetry for the
    2026-08-19 pathology: healthy hosts read multiple GB/s, the degraded
    regime read 0.13 GB/s while plain-page faults stayed fast. Diagnostic
    only, never gated: the workload disables numpy's THP madvise."""
    import subprocess

    env = {k: v for k, v in os.environ.items()
           if k != "NUMPY_MADVISE_HUGEPAGE"}
    out = subprocess.run(
        [sys.executable, "-c",
         "import numpy as np, time; b=np.empty(1<<26, dtype=np.uint8); "
         "t0=time.perf_counter(); b.fill(1); "
         "print((1<<26)/(time.perf_counter()-t0)/1e9)"],
        env=env, capture_output=True, text=True, timeout=120,
    )
    try:
        return float(out.stdout.strip())
    except ValueError:
        return -1.0


def measure() -> dict:
    st_mm = _matmul_gflops()
    st_py = _py_loop()
    with mp.Pool(8) as pool:
        t0 = time.perf_counter()
        rates = pool.map(_py_sustained, [50] * 8)
        wall = time.perf_counter() - t0
        sustained = sum(rates)
        spread = max(rates) / max(min(rates), 1e-9)
        mt8_bw = sum(pool.map(_membw_gbs, range(8)))
    return {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "st_matmul_gflops": round(st_mm, 2),
        "st_py_mops": round(st_py, 2),
        "mt8_sustained_mops": round(sustained, 2),
        "mt8_worker_spread": round(spread, 2),
        "mt8_wall_sec": round(wall, 2),
        "disk_w_mbps": round(_disk_w_mbps(), 1),
        "st_membw_gbs": round(_membw_gbs(), 2),
        "mt8_membw_gbs": round(mt8_bw, 2),
        "npy_thp_fill_gbs": round(_npy_thp_fill_gbs(), 3),
    }


def best_recorded() -> dict:
    best: dict = {}
    if os.path.exists(LOG):
        with open(LOG) as fh:
            for line in fh:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                for k in ("st_matmul_gflops", "st_py_mops",
                          "mt8_sustained_mops", "disk_w_mbps",
                          "st_membw_gbs", "mt8_membw_gbs"):
                    if k in rec:
                        best[k] = max(best.get(k, 0.0), rec[k])
    return best


def main() -> int:
    gate = "--gate" in sys.argv
    quiet = "--quiet" in sys.argv
    rec = measure()
    prior = best_recorded()
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    with open(LOG, "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    verdict = "OK"
    worst_frac = 1.0
    for k in ("st_matmul_gflops", "st_py_mops", "mt8_sustained_mops",
              "disk_w_mbps", "st_membw_gbs"):
        if prior.get(k):
            worst_frac = min(worst_frac, rec[k] / prior[k])
    # ABSOLUTE floors calibrated from the 2026-08-17/18 clean-vs-degraded
    # distributions (HOSTSPEED.jsonl). The earlier relative-to-best rule
    # ratcheted on every metric's one-off burst (553 MB/s disk, 240 GB/s
    # memcpy) and then refused demonstrably clean windows; an engine-work
    # mini-build is the decisive gate, these floors only filter gross
    # collapse. vs_best stays in the record for context.
    floors = {
        # 2026-08-19 recalibration: the new CPUID regime runs the PINNED
        # HASWELL kernel at 30-53 GFLOPS with high per-window variance
        # while IPC / sustained-mops / memcpy read record-clean and the
        # engine mini-build sits in its clean band — the old 40.0 floor
        # (clean 44-58 on the previous silicon) rejected healthy windows.
        # 25 still catches the generic-kernel fallback (17-20) and any
        # true FPU collapse.
        "st_matmul_gflops": 25.0,   # old silicon clean 44-58; new 30-53
        "st_py_mops": 9.5,          # CPU-steal windows read 8.2
        "mt8_sustained_mops": 65.0,  # clean 73-89
        "disk_w_mbps": 100.0,        # clean 110-553 (bursty, barely relevant)
        "st_membw_gbs": 10.0,        # true collapse reads 0.16-8; 17 GB/s
                                     # single-thread co-occurred with
                                     # mt8=117 (the build is MT — let the
                                     # mini-build decide such windows)
        "mt8_membw_gbs": MT8_MEMBW_FLOOR_GBS,  # degraded 39-75, clean 109-240
    }
    if gate:
        for k, floor in floors.items():
            if rec[k] < floor:
                verdict = "DEGRADED"
    out = dict(rec, vs_best=round(worst_frac, 3), verdict=verdict)
    if not quiet:
        print(json.dumps(out))
    return 0 if verdict == "OK" else 4


if __name__ == "__main__":
    raise SystemExit(main())
