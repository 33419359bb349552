#!/usr/bin/env python3
"""Regenerate the query/test/suite counts in COVERAGE.md from ground
truth, instead of hand-editing them (the r10 verdict caught the test
count 29 stale).

  python3 scripts/update_counts.py <sbt-test-log> [label]

- label: what names the run in the header sentence ("count from the
  <label> `sbt test` run log"), e.g. a date; without it the label
  already in COVERAGE.md stays.

- query count: counted from the QueryDef registry in src/main (the
  same registry Verify iterates), plus the dense id range q01..qMAX.
- test/suite counts: parsed from the given `sbt test` run log
  ("Total number of tests run: N" / "Suites: completed M").

Rewrites the header sentence of COVERAGE.md in place and prints the
counts so the caller can eyeball them against the run log.
"""
import re
import sys
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent


def query_counts():
    names = []
    for f in (ROOT / "src/main/scala/graft/queries").glob("*.scala"):
        names += re.findall(r'QueryDef\.(?:sql|rowsOnly)\(\s*"(q\d+)', f.read_text())
    nums = sorted(int(n[1:]) for n in names)
    assert len(nums) == len(set(nums)), "duplicate query ids"
    assert nums == list(range(nums[0], nums[-1] + 1)), (
        "query ids are not dense: " + str(sorted(set(range(nums[0], nums[-1] + 1)) - set(nums))))
    return len(nums), nums[-1]


def test_counts(log_path):
    log = pathlib.Path(log_path).read_text(errors="replace")
    tests = (re.findall(r"Total number of tests run: (\d+)", log) or
             re.findall(r"Tests: succeeded (\d+),", log))
    suites = re.findall(r"Suites: completed (\d+)", log)
    failed = re.findall(r"Tests: succeeded \d+, failed (\d+)", log)
    canceled = re.findall(r"failed \d+, canceled (\d+)", log)
    if not tests or not suites:
        sys.exit(f"no sbt test summary found in {log_path}")
    if any(int(f) for f in failed):
        sys.exit("refusing to stamp counts from a FAILING run log")
    return int(tests[-1]), int(suites[-1]), int(canceled[-1]) if canceled else 0


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    nq, qmax = query_counts()
    nt, ns, nc = test_counts(sys.argv[1])
    label = sys.argv[2] if len(sys.argv) > 2 else None
    cov = ROOT / "COVERAGE.md"
    text = cov.read_text()
    text = re.sub(
        r"Every query id \(qNN, \d+ total\)",
        f"Every query id (qNN, {nq} total)", text)
    # accept both "green;" and "green," — the trailing punctuation
    # drifted in r12 and the old strict pattern silently stopped
    # matching, leaving the header stale (the exact failure mode this
    # script exists to prevent)
    text, n_subs = re.subn(
        r"\(\d+ tests /\n\d+ suites — count from the (.+?) `sbt test` run log: \d+/\d+ green([;,])",
        lambda m: f"({nt} tests /\n{ns} suites — count from the {label or m.group(1)} "
                  f"`sbt test` run log: {nt}/{nt} green{m.group(2)}", text)
    if n_subs == 0:
        sys.exit("COVERAGE.md header sentence did not match — fix the "
                 "pattern instead of letting the counts go stale")
    if nc:  # stamp the canceled count too (ADVICE r12: it was stale at 2)
        text = re.sub(r"plus \d+ CANCELED by design",
                      f"plus {nc} CANCELED by design", text)
    cov.write_text(text)
    rd = ROOT / "README.md"
    rtext = rd.read_text()
    rtext = re.sub(r"q01–q\d+", f"q01–q{qmax:02d}", rtext)
    rtext = re.sub(r"All \d+ queries", f"All {nq} queries", rtext)
    rd.write_text(rtext)
    print(f"queries={nq} (q01..q{qmax})  tests={nt}  suites={ns}  canceled={nc}")


if __name__ == "__main__":
    main()
