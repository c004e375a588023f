#!/usr/bin/env python3
"""Layered benchmark for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles graft's sources and
the benchmark's own Scala sources (``perfbench/src``) with the Scala
compiler that ships in Spark's jar directory (``$SPARK_HOME/jars``) into
``.bench_build/perfbench`` (or ``$CARGO_TARGET_DIR/perfbench``); later runs
reuse the classes while the sources are unchanged.

One run is one JVM: set-up (three times, median), passes back to back for
``--seconds``, output checks after every pass. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics. Every metric is
printed by name with its unit; the last line is the JSON result.

``--selftest 1`` instead runs one pass and shows that each output check
rejects a corrupted result.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("scanpy_recipe", "corpus_dedup", "vector_search")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
JVM_FLAGS = [*[x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
             "-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]
# A fixed heap and two malloc arenas keep the JVM's peak RSS from swinging
# with heap-resizing and arena-creation timing, so `peak_rss_mb` moves with
# what the program keeps resident outside a steady 2 GB heap.
JVM_ENV = {**os.environ, "MALLOC_ARENA_MAX": "2"}
RUN_TIMEOUT_S = 165


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark distribution with a jars/ directory")
    return Path(home) / "jars"


def build(root, out):
    """Compile graft + benchmark sources once per source digest."""
    graft_src = root / "src" / "main" / "scala"
    if not (graft_src / "graft").is_dir():
        fail(f"graft sources not found under {graft_src} (run from the repository root)")
    sources = sorted(graft_src.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    resources = root / "src" / "main" / "resources"
    digest = hashlib.sha256()
    for f in sources + sorted(p for p in resources.rglob("*") if p.is_file()):
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    out.mkdir(parents=True, exist_ok=True)
    stamp = out / "classes.stamp"
    classes = out / "classes"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return out / "perfbench.jar", digest.hexdigest()
    stamp.unlink(missing_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cp = f"{spark_jars()}/*"
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(classes), "-classpath", cp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("compilation failed")
    if resources.is_dir():
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    jar = out / "perfbench.jar"
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    class_data_archive(out, jar)
    stamp.write_text(digest.hexdigest())
    print(f"perfbench: built {len(sources)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return jar, digest.hexdigest()


def classpath(jar):
    return f"{jar}:{spark_jars()}/*"


def class_data_archive(out, jar):
    """A class-data-sharing archive of the classes a Spark session loads:
    JVM start to warm session drops from ~15 s to ~8 s on a 4-core VM. Runs
    use it with ``-Xshare:on``, so an archive that does not match the JVM or
    the jar stops the run instead of being skipped silently; without an
    archive a run loads classes normally and its record says ``cds: false``."""
    lst, jsa = out / "classes.lst", out / "classes.jsa"
    for f in (lst, jsa):
        f.unlink(missing_ok=True)
    work = out / "classlist-work"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(out / "cds.log", "w") as log:
        subprocess.run(["java", *JVM_FLAGS, f"-XX:DumpLoadedClassList={lst}",
                        f"-Djava.io.tmpdir={work / 'tmp'}",
                        "-cp", classpath(jar), "perfbench.Main", "--classlist", "1",
                        "--work", str(work)],
                       stdout=log, stderr=subprocess.STDOUT, timeout=300)
        shutil.rmtree(work, ignore_errors=True)
        if lst.exists():
            subprocess.run(["java", "-XX:-UsePerfData", "-Xshare:dump",
                            f"-XX:SharedClassListFile={lst}", f"-XX:SharedArchiveFile={jsa}",
                            "-cp", classpath(jar)],
                           stdout=log, stderr=subprocess.STDOUT, timeout=300)
    if not jsa.exists():
        print(f"perfbench: no class-data-sharing archive (see {out / 'cds.log'}); "
              "runs start without it", file=sys.stderr)


def commit_of(root):
    try:
        return subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(jar, work, args, extra):
    jsa = jar.parent / "classes.jsa"
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={work / 'tmp'}",
           *(["-Xshare:on", f"-XX:SharedArchiveFile={jsa}"] if jsa.exists() else []),
           "-cp", classpath(jar), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cpus", str(nproc()), "--work", str(work), *extra]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=JVM_ENV)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    out = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    out = (out if out.is_absolute() else root / out) / "perfbench"
    jar, src_digest = build(root, out)

    work = out / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if args.selftest:
            rc = run_jvm(jar, work, args, ["--selftest", "1"])
            log = (work / "jvm.log").read_text()
            print("\n".join(l for l in log.splitlines() if l.startswith("selftest")))
            ok = rc == 0
            if args.workload == "scanpy_recipe":
                import checks
                ok = checks.selftest_scanpy(work / "input-2", work / "out" / "selftest") and ok
            print(f"selftest {args.workload}: {'ok' if ok else 'FAILED'}")
            return 0 if ok else 1
        rc = run_jvm(jar, work, args, ["--result", str(work / "result.json")])
        if rc != 0 or not (work / "result.json").exists():
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            fail(f"benchmark JVM exited with {rc}")
        rec = json.loads((work / "result.json").read_text())
        failures = list(rec["failures"])
        attempted, failed = rec["attempted"], rec["failed"]
        if args.workload == "scanpy_recipe":
            import checks
            a, f, msgs = checks.check_scanpy(work / "input-2", work / "checks")
            attempted, failed = attempted + a, failed + f
            failures += msgs
        rec.update(commit=commit_of(root), source_digest=src_digest,
                   cds=(out / "classes.jsa").exists(),
                   attempted=attempted, failed=failed, failures=failures[:20])
        records = out / "records"
        records.mkdir(exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        (records / f"{name}.json").write_text(json.dumps(rec, indent=1, sort_keys=True))
        if args.trace and (work / "spans.json").exists():
            shutil.copy(work / "spans.json", records / f"{name}-spans.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    import report
    metrics = report.metrics(rec, trace=bool(args.trace), spec=HERE.parent / "BENCHMARK.json")
    report.print_summary(rec, metrics)
    for f in failures[:10]:
        print(f"check failed: {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    sys.exit(main())
