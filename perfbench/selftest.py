"""Self-test of the benchmark (python3 perfbench/run.py --selftest).

Runs the JVM self-tests (perfbench/src/SelfTest.scala) under a German,
comma-decimal default locale, then checks from outside that every printed
metric value and the result JSON parse, and that BENCHMARK.json lists
exactly the metrics the benchmark prints.
"""
import json
import re


def main(run_jvm):
    code, out = run_jvm(["--selftest"], ["-Duser.language=de", "-Duser.country=DE"])
    print(out, end="")
    lines = out.rstrip("\n").split("\n")
    failures = [l for l in lines if l.startswith("selftest ") and not l.endswith(" PASS")]
    try:
        result = json.loads(lines[-1])
        values = [m["value"] for m in result["metrics"].values()]
        parsed = all(isinstance(v, (int, float)) for v in values) and result["correct"]
    except (ValueError, KeyError, IndexError):
        parsed = False
    for l in lines:
        if l.startswith("metric ") and not re.fullmatch(r"metric \S+ -?\d+\.\d+ \S+", l):
            parsed = False
    print(f"selftest locale.parse {'PASS' if parsed else 'FAIL'}")
    code2, described = run_jvm(["--describe"])
    bench = json.load(open("BENCHMARK.json"))
    want = json.loads(described.strip().split("\n")[-1])
    listed = {k: [{kk: m[kk] for kk in ("name", "unit", "better")} for m in bench[k]]
              for k in ("end_to_end", "per_layer")}
    same = code2 == 0 and listed == want
    print(f"selftest benchmark_json.metrics {'PASS' if same else 'FAIL'}")
    return 0 if code == 0 and not failures and parsed and same else 1
