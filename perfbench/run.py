"""Benchmark entry point: builds the program and the benchmark from source,
makes the workload's inputs from the seed, runs one workload in one JVM and
prints the result JSON as the last line of stdout.

    python3 perfbench/run.py --workload estimate_ref --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Build outputs, generated inputs, logs and
trace files go under `.bench_build/` there. Spark's jars are taken from
`$SPARK_HOME/jars`, or else from the directory the repo's build.sbt names as
`unmanagedBase`. `--smoke` shrinks every input for a quick self-test;
`--record` makes one short run (one set-up, one warm-up rotation, one timed
rotation) and stores its output digests in `perfbench/expected.json`; a
seed with no digests recorded there is checked for repeatability within the
run only.
"""
import argparse
import hashlib
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("estimate_ref", "mc_nmar", "catalog_mix")
CATALOG_SF = 0.01
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"program sources not found under {main}")
    out = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            out += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    return out


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    os.makedirs(out, exist_ok=True)
    listing = os.path.join(BUILD, "sources.txt")
    with open(listing, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", "-d", out, "-classpath", cp,
                        "-nowarn", "@" + listing],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compile failed")
    open(os.path.join(out, ".done"), "w").close()
    return out


def catalog_data(seed, smoke):
    sf = 0.0 if smoke else CATALOG_SF
    out = os.path.join(BUILD, "catalog", f"seed{seed}-sf{sf}")
    if not os.path.exists(os.path.join(out, ".done")):
        r = subprocess.run([sys.executable, os.path.join(HERE, "gen_catalog.py"),
                            "--seed", str(seed), "--sf", str(sf), "--out", out])
        if r.returncode != 0:
            fail("catalog generation failed")
        open(os.path.join(out, ".done"), "w").close()
    return out


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(BUILD, "work")
    for d in ("tmp", "logs"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tag = f"{a.workload}-{a.seed}{'-smoke' if a.smoke else ''}"
    expected = load_json("expected.json").get(
        a.workload + ("-smoke" if a.smoke else ""), {}).get(str(a.seed), {})
    if not expected and not a.record:
        print(f"perfbench: no digests recorded for {a.workload} seed {a.seed}; "
              "outputs are checked for repeatability within the run only",
              file=sys.stderr)
    exp_file = os.path.join(work, f"expected-{tag}.tsv")
    with open(exp_file, "w") as f:
        f.writelines(f"{k}\t{v}\n" for k, v in expected.items())
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(0.1 if a.record else a.seconds),
            "--trace", str(a.trace), "--smoke", "1" if a.smoke else "0",
            "--record", "1" if a.record else "0", "--work", work,
            "--expected", exp_file]
    if a.workload == "catalog_mix":
        args += ["--data", catalog_data(a.seed, a.smoke)]
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m", *opens,
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main"] + args)
    log = os.path.join(work, "logs", tag + ".log")
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err,
                               text=True, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s; log: {log}")
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {r.returncode}; log: {log}")
    result = json.loads(lines[-1])
    if a.record:
        rec = load_json("expected.json")
        with open(os.path.join(work, f"digests-{a.workload}-{a.seed}.tsv")) as f:
            digests = dict(line.rstrip("\n").split("\t", 1) for line in f)
        rec.setdefault(a.workload + ("-smoke" if a.smoke else ""), {})[str(a.seed)] = digests
        with open(os.path.join(HERE, "expected.json"), "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.write("\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
