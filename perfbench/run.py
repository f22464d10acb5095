#!/usr/bin/env python3
"""The engine's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <suite_sf01|corpus_scaled|grid_rolling>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine together
with the benchmark's driver (sbt, offline) into `$CARGO_TARGET_DIR` (default
`.bench_build`); later runs reuse the build while the sources are unchanged.
Each run generates its inputs from the seed, sets up three times, measures
for `--seconds`, checks every output, and prints one JSON result as the
last line of standard output. See README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

WORKLOADS = ("suite_sf01", "corpus_scaled", "grid_rolling")
REPS = 3  # set-up repetitions per run; setup_s takes their median
RUN_LIMIT_S = 170  # a run (after the build) must finish within this
# corpus_scaled: base documents and embeddings, replication factor
CORPUS = dict(docs=750, vecs=300, mult=4)
GRID_FILES = 36
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def digest() -> str:
    """Hash of every input to the build."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(cp: str, args: list, extra: list = ()) -> list:
    # no hsperfdata file: the JVM would otherwise write one outside the checkout
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Duser.timezone=UTC"] + list(extra)
            + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main"] + args)


def build() -> tuple:
    """Compile once per source state. Returns the runtime classpath and
    the JVM options that load the class-data archive: the compiled classes
    are packed into a jar and a short training run records the classes it
    loads, which cuts JVM and session start-up by several seconds a run."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    target = os.path.join(BUILD, "target")
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    archive = os.path.join(BUILD, "classes.jsa")
    want = digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip(), [f"-XX:SharedArchiveFile={archive}"]
    for p in (stamp, archive):
        if os.path.exists(p):
            os.remove(p)
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, PERFBENCH_TARGET=target, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "compile", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            timeout=850).returncode
    sbt_cp = os.path.join(target, "classpath.txt")
    if rc != 0 or not os.path.exists(sbt_cp):
        fail(f"build failed (see {log})")
    with open(sbt_cp) as g:
        entries = g.read().strip().split(os.pathsep)
    # the archive only covers classes loaded from jars
    classes = os.path.join(target, "scala-2.13", "classes")
    jar = shutil.make_archive(os.path.join(BUILD, "perfbench"), "zip", classes)
    os.replace(jar, os.path.join(BUILD, "perfbench.jar"))
    cp = os.pathsep.join(os.path.join(BUILD, "perfbench.jar") if e == classes else e
                         for e in entries)
    train = os.path.join(BUILD, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    try:
        generate("suite_sf01", 0, os.path.join(train, "in"), tiny=True)
        with open(log, "a") as out:
            subprocess.run(java_cmd(cp, main_args("suite_sf01", 0, 1.0, 0, [os.path.join(train, "in")],
                                                  os.path.join(train, "in"), train),
                                    [f"-XX:ArchiveClassesAtExit={archive}",
                                     f"-Djava.io.tmpdir={train}/tmp"]),
                           cwd=train, stdout=out, stderr=subprocess.STDOUT, timeout=300)
    finally:
        shutil.rmtree(train, ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp, [f"-XX:SharedArchiveFile={archive}"]


def main_args(workload, seed, seconds, trace, reps, tiny, work) -> list:
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(len(os.sched_getaffinity(0))),
            "--reps", ",".join(reps), "--tiny", tiny, "--work", work,
            "--out", os.path.join(work, "result.json"),
            "--trace-out", os.path.join(BUILD, "trace", f"{workload}-s{seed}-{int(time.time())}.json")]


def generate(workload: str, seed: int, out: str, tiny: bool) -> None:
    import datagen
    if workload == "suite_sf01":
        # sf0.1, or sf0.001 for the warm-up
        datagen.write_tables(out, seed, scale=0.01 if tiny else 1.0)
    elif workload == "corpus_scaled":
        if tiny:
            datagen.write_corpus(out, seed, 250, 100, 2)
        else:
            datagen.write_corpus(out, seed, **CORPUS)
    else:
        datagen.write_grid(out, 6 if tiny else GRID_FILES)


def jaccard_pairs_check(data_dir: str, got) -> list:
    """Properties of a near-duplicate pair list, recomputed independently:
    each pair is ordered, unique, within one language, and its word-3-gram
    shingle Jaccard (distinct shingles; a document under three words is
    one shingle) equals the emitted value and meets the 0.6 threshold."""
    import pandas as pd
    docs = pd.read_parquet(os.path.join(data_dir, "documents.parquet")).set_index("doc_id")

    def shingles(text):
        toks = text.split(" ")
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    sh, problems = {}, []
    if len(got) == 0:
        problems.append("no pairs emitted from a corpus of near-duplicate cliques")
    if got.duplicated(["i", "j"]).any():
        problems.append("duplicate pairs")
    for i, j, jac in zip(got["i"], got["j"], got["jac"]):
        if i >= j or i not in docs.index or j not in docs.index:
            problems.append(f"pair ({i}, {j}) not an ordered pair of corpus documents")
        elif docs.at[i, "lang"] != docs.at[j, "lang"]:
            problems.append(f"pair ({i}, {j}) crosses languages")
        else:
            a = sh.setdefault(i, shingles(docs.at[i, "text"]))
            b = sh.setdefault(j, shingles(docs.at[j, "text"]))
            exact = len(a & b) / len(a | b)
            if abs(exact - jac) > 1e-9 or exact < 0.6:
                problems.append(f"pair ({i}, {j}) jac {jac} but recomputed {exact}")
        if len(problems) > 20:
            break
    return problems


# queries whose DuckDB oracle does not finish in bounded time on the
# replicated corpus (dd2's all-pairs scoring takes ~30 s there): their
# outputs are checked by recomputed properties instead
PROPERTY_CHECKS = {"corpus_scaled": {"dd2_shingle_jaccard": jaccard_pairs_check}}


def oracle_check(workload: str, data_dir: str, results: str, failed: set) -> list:
    """DuckDB's answer to each query's oracle SQL against the written
    result, through the repository's oracle checker (tools/check_oracle.py);
    property checks where the oracle is out of reach."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    import duckdb
    import pandas as pd
    with open(os.path.join(results, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    for t in co.TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    props = PROPERTY_CHECKS.get(workload, {})
    problems = []
    for name, sql in sorted(sqls.items()):
        if name in failed:  # counted in `failed`; the checks cover the rest
            continue
        d = os.path.join(results, name)
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet")) if os.path.isdir(d) else []
        if not files:
            problems.append(f"{name}: no result written")
            continue
        got = pd.concat([pd.read_parquet(os.path.join(d, f)) for f in files], ignore_index=True)
        if name in props:
            problems += [f"{name}: {p}" for p in props[name](data_dir, got)]
            continue
        try:
            diff = co.frames_equal(got, con.execute(sql).df())
        except Exception as e:  # the oracle itself failed
            diff = f"oracle error: {e}"
        if diff:
            problems.append(f"{name}: {diff}")
    return problems


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp, jvm_opts = build()
    start = time.monotonic()
    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        reps, datagen_ms = [], []
        for i in range(REPS):
            d = os.path.join(work, f"rep{i}")
            t0 = time.perf_counter()
            generate(a.workload, a.seed, d, tiny=False)
            datagen_ms.append((time.perf_counter() - t0) * 1e3)
            reps.append(d)
        tiny = os.path.join(work, "tiny")
        generate(a.workload, a.seed, tiny, tiny=True)

        out = os.path.join(work, "result.json")
        cmd = java_cmd(cp, main_args(a.workload, a.seed, a.seconds, a.trace, reps, tiny, work),
                       jvm_opts + [f"-Djava.io.tmpdir={work}/tmp"])
        log = os.path.join(work, "jvm.log")
        t_jvm = time.monotonic()
        with open(log, "w") as lf:
            left = RUN_LIMIT_S - (time.monotonic() - start)
            try:
                rc = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                    timeout=max(10.0, left)).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-4000:])
            fail(f"benchmark JVM ended with {rc}")
        with open(out) as f:
            res = json.load(f)

        t_check = time.monotonic()
        problems = list(res["problems"])
        if a.workload != "grid_rolling":
            problems += oracle_check(a.workload, reps[-1], os.path.join(work, "results"),
                                     set(res["failures"]))
        for p in problems:
            print(f"[perfbench] check failed: {p}", file=sys.stderr)

        s = res["setup"]
        setup_ms = s["session_ms"] + s["warmup_ms"] + statistics.median(
            g + i for g, i in zip(datagen_ms, s["index_ms"]))
        if a.trace:
            measured = dict(res["layers"])
            measured["setup.datagen_ms"] = statistics.median(datagen_ms)
        else:
            measured = dict(res["e2e"])
            measured["setup_s"] = setup_ms / 1e3
        # names and units come from BENCHMARK.json, so the two cannot drift
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
        missing = [m["name"] for m in declared if m["name"] not in measured]
        if missing:
            fail(f"metrics not measured: {missing}")
        # where the run's wall time went: input generation, the JVM, checks
        wall_s = dict(inputs=t_jvm - start, jvm=t_check - t_jvm,
                      checks=time.monotonic() - t_check)
        detail = dict(res["detail"], failures=res["failures"], problems=problems[:20],
                      setup_ms=setup_ms, datagen_ms=datagen_ms, setup=s, wall_s=wall_s)
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": not problems,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                        for m in declared},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
