"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

Checks that
  - each generator gives byte-identical files for the same seed and
    different files for a different seed;
  - a sleep planted in one row's build phase shows up in that row's
    queries.build_s and in no other row's;
  - an extra one-task Spark job planted in one row shows up in that
    row's job and task counts and in no other row's;
  - a wrong result planted in one row's output fails the check and
    raises failed_frac.
The last three run the real harness on two small rows of a small
generated corpus (about 30 s each).
"""
import filecmp
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_imdb  # noqa: E402
import gen_rows  # noqa: E402
import run  # noqa: E402

SPEC = {"kind": "rows", "size": 0.01, "rows": ["q1_agg", "fn_pivot"]}
FAILURES = []


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILURES.append(what)


def data_files(d):
    return sorted(f for f in os.listdir(d) if not f.startswith("_"))


def same_files(a, b):
    fa, fb = data_files(a), data_files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False) for f in fa)


def test_generators(tmp):
    small_imdb = {"n_train": 400, "n_test": 100, "n_writing": 1000, "n_directing": 500}
    for name, gen in (("rows", lambda d, s: gen_rows.generate(d, s, 0.001)),
                      ("imdb", lambda d, s: gen_imdb.generate(d, s, **small_imdb))):
        a, b, c = (os.path.join(tmp, f"{name}-{k}") for k in ("a", "b", "c"))
        gen(a, 7)
        gen(b, 7)
        gen(c, 8)
        expect(same_files(a, b), f"{name} generator: same seed, byte-identical files")
        expect(not same_files(a, c), f"{name} generator: other seed, different files")


def op(artifact, name):
    return next(o for o in artifact["ops"] if o["name"] == name)


def test_planted():
    _, base = run.run("selftest", SPEC, 1, 1, 1)
    _, slow = run.run("selftest", SPEC, 1, 1, 1, plant="build_sleep:fn_pivot:1500")
    d_pivot = op(slow, "fn_pivot")["phases"]["build_s"] - op(base, "fn_pivot")["phases"]["build_s"]
    d_q1 = op(slow, "q1_agg")["phases"]["build_s"] - op(base, "q1_agg")["phases"]["build_s"]
    expect(d_pivot > 1.4, f"planted 1.5 s build sleep: fn_pivot build_s +{d_pivot:.3f} s")
    expect(abs(d_q1) < 0.5, f"planted build sleep: q1_agg build_s moved {d_q1:+.3f} s")

    _, extra = run.run("selftest", SPEC, 1, 1, 1, plant="extra_job:fn_pivot")
    j = {n: op(extra, n)["spark"]["jobs"] - op(base, n)["spark"]["jobs"]
         for n in SPEC["rows"]}
    expect(j["fn_pivot"] == 1, f"planted extra job: fn_pivot jobs +{j['fn_pivot']:.0f}")
    expect(j["q1_agg"] == 0, f"planted extra job: q1_agg jobs +{j['q1_agg']:.0f}")
    t = {n: op(extra, n)["spark"]["tasks"] - op(base, n)["spark"]["tasks"]
         for n in SPEC["rows"]}
    expect(t["fn_pivot"] == 1, f"planted one-task job: fn_pivot tasks +{t['fn_pivot']:.0f}")
    expect(t["q1_agg"] == 0, f"planted one-task job: q1_agg tasks +{t['q1_agg']:.0f}")

    line, wrong = run.run("selftest", SPEC, 1, 1, 1, plant="wrong_result:q1_agg")
    frac = line["metrics"]["failed_frac"]["value"]
    expect(not line["correct"] and line["failed"] == 1,
           f"planted wrong result: correct={line['correct']} failed={line['failed']}")
    expect(frac == 0.5, f"planted wrong result: failed_frac {frac}")
    expect(wrong["checks"]["failed_ops"] == ["q1_agg"],
           f"planted wrong result: failed operations {wrong['checks']['failed_ops']}")
    base_frac = base["metrics"]["failed_frac"]["value"]
    expect(base_frac == 0.0, f"unplanted run: failed_frac {base_frac}")


def main():
    os.makedirs(run.BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=run.BUILD)
    try:
        test_generators(tmp)
        test_planted()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(FAILURES)} failed" if FAILURES else "all passed")
    sys.exit(1 if FAILURES else 0)


if __name__ == "__main__":
    main()
