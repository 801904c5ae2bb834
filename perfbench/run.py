#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness and
graft's main sources with sbt (perfbench/build.sbt) into
.bench_build/perfbench; later runs reuse that build while the sources
are unchanged. The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; see perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # imports gen_tables; keep the tree clean

WORKLOADS = ("otlp_ingest", "trace_queries", "registry_batch")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_HEAP = "3g"
ARCHIVE = "classes.jsa"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads, in a stable order."""
    out = []
    for top in ("src/main", "perfbench/src", "perfbench/project"):
        base = os.path.join(root, top)
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.join(d, f) for f in sorted(files)]
    return out + [os.path.join(root, "perfbench", "build.sbt")]


def build(root, out_dir):
    """Compile with sbt unless the sources match the last build."""
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(out_dir, "classpath.txt")
    stamp_file = os.path.join(out_dir, "stamp")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(out_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = [env.get("SBT_OPTS", ""), "-Xmx2g",
            "-Dsbt.global.base=" + os.path.join(out_dir, "sbt-global"),
            "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in opts[0]:
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos, "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    log_path = os.path.join(out_dir, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("build timed out")
        log.write(out)
    if proc.returncode != 0:
        fail(f"build failed; see {log_path}")
    lines = [l for l in out.splitlines() if "perfbench" in l and ".jar" in l]
    if not lines:
        fail(f"build printed no classpath; see {log_path}")
    cp = lines[-1].strip()
    # class-data archive of what a run loads: shortens JVM + Spark start-up
    archive = os.path.join(out_dir, ARCHIVE)
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(out_dir, "work", "class-archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    with open(log_path, "a") as log:
        dump = subprocess.run(
            ["java", f"-XX:ArchiveClassesAtExit={archive}"]
            + java_cmd(cp, work, ["--workload", "class-archive", "--seed", "0",
                                  "--seconds", "1"])[1:],
            cwd=work, stdout=log, stderr=log, timeout=BUILD_LIMIT_S)
    shutil.rmtree(work, ignore_errors=True)
    if dump.returncode != 0 or not os.path.exists(archive):
        if os.path.exists(archive):
            os.remove(archive)
        fail(f"class-data archive dump failed; see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def registry_data(root, out_dir, seed):
    """The registry tables for this seed's dataset variant (cached)."""
    sys.path.insert(0, os.path.join(root, "perfbench"))
    import gen_tables
    variant = seed % gen_tables.VARIANTS
    with open(gen_tables.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(out_dir, "data", f"{version}-v{variant}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.write_tables(d, variant)
        open(os.path.join(d, "DONE"), "w").close()
    return d, variant


def java_cmd(cp, work, args):
    """The harness JVM: `--t0-ms` marks the launch for setup_s. It maps
    the class-data archive when one exists and logs the mapping to
    cds.log in its work directory."""
    archive = os.path.join(os.path.dirname(os.path.dirname(work)), ARCHIVE)
    share = ([f"-XX:SharedArchiveFile={archive}",
              f"-Xlog:cds=info:file={os.path.join(work, 'cds.log')}"]
             if os.path.exists(archive) else [])
    return (["java"] + share + [f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main", "--work", work,
               "--t0-ms", str(int(time.time() * 1000))] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    out_dir = os.path.join(root, ".bench_build", "perfbench")
    cp = build(root, out_dir)
    jvm_args = []
    if a.workload == "registry_batch":
        data, variant = registry_data(root, out_dir, a.seed)
        jvm_args = ["--data", data, "--variant", str(variant),
                    "--digests", os.path.join(root, "perfbench", "registry_digests.json")]

    # the run's own time limit starts after the (first-run-only) build
    work = os.path.join(out_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = java_cmd(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--deadline-s", str(RUN_LIMIT_S - 5)] + jvm_args)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    # the archive changes start-up time, so say whether this run used it
    cds_log = os.path.join(work, "cds.log")
    mapped = False
    if os.path.exists(cds_log):
        with open(cds_log) as f:
            mapped = "Mapped dynamic region" in f.read()
    print("perfbench: class-data archive " + ("used" if mapped else
          "NOT used: setup_s includes plain class loading"), file=sys.stderr)
    keep = os.path.join(out_dir, "last")
    os.makedirs(keep, exist_ok=True)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(keep, f"spans-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    tagged = {}
    for line in out.splitlines():
        for tag in ("PERFBENCH_DETAIL ", "PERFBENCH_RESULT "):
            if line.startswith(tag):
                tagged[tag.strip()] = json.loads(line[len(tag):])
    if proc.returncode != 0 or "PERFBENCH_RESULT" not in tagged:
        fail(f"{a.workload} exited with code {proc.returncode} and no result")
    result = tagged["PERFBENCH_RESULT"]
    detail = tagged.get("PERFBENCH_DETAIL", {})

    # the untraced result of the same seed, for the tracing overhead
    untraced = os.path.join(keep, f"result-{a.workload}-{a.seed}.json")
    if a.trace == 0:
        with open(untraced, "w") as f:
            json.dump(result["metrics"], f)
    elif os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)
        detail.update({
            f"trace_overhead.{k}": {
                "value": result["metrics"][f"e2e.{k}"]["value"] / v["value"] - 1,
                "unit": "ratio"}
            for k, v in base.items() if f"e2e.{k}" in result["metrics"] and v["value"]})
    for k, v in detail.items():
        print(f"{a.workload} {k} = {v['value']} {v['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
