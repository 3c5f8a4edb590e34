#!/usr/bin/env python3
"""Sum the per-test durations of an sbt test log run with ScalaTest's -oD.

Usage: python3 scripts/test_durations.py <sbt log> [--top N]

Prints one line per spec (sum of its tests' durations, test count),
slowest first, then the N slowest tests (default 10) and the total.
The log must come from `sbt testOnly ...` with `-oD` on (build.sbt sets
it), so every test line ends in its duration, e.g.
`[info] - name (1 minute, 2 seconds, 5 milliseconds)`.
"""
import re
import sys

UNIT_S = {
    "hour": 3600.0, "hours": 3600.0,
    "minute": 60.0, "minutes": 60.0,
    "second": 1.0, "seconds": 1.0,
    "millisecond": 1e-3, "milliseconds": 1e-3,
    "microsecond": 1e-6, "microseconds": 1e-6,
    "nanosecond": 1e-9, "nanoseconds": 1e-9,
}
PREFIX = r"^(?:\[info\] )?"
SPEC = re.compile(PREFIX + r"(\w+):$")
PART = r"\d+ (?:" + "|".join(UNIT_S) + r")"
TEST = re.compile(PREFIX + r"- (.*?) \((" + PART + r"(?:, " + PART + r")*)\)$")


def seconds(text):
    total = 0.0
    for part in text.split(", "):
        n, unit = part.split(" ")
        total += int(n) * UNIT_S[unit]
    return total


def parse(lines):
    """(spec, test, seconds) for every timed test line."""
    spec = None
    for line in lines:
        line = line.rstrip("\n")
        m = SPEC.match(line)
        if m:
            spec = m.group(1)
            continue
        m = TEST.match(line)
        if m and spec is not None:
            yield spec, m.group(1), seconds(m.group(2))


def main(argv):
    args = argv[1:]
    top = 10
    if "--top" in args:
        i = args.index("--top")
        top = int(args[i + 1])
        del args[i:i + 2]
    if len(args) != 1:
        sys.stderr.write(__doc__)
        return 2
    with open(args[0], encoding="utf-8", errors="replace") as f:
        tests = list(parse(f))
    if not tests:
        sys.stderr.write("no timed test lines found (was -oD on?)\n")
        return 1
    per_spec = {}
    for spec, _, s in tests:
        total, n = per_spec.get(spec, (0.0, 0))
        per_spec[spec] = (total + s, n + 1)
    print("per spec (sum of test durations):")
    for spec, (s, n) in sorted(per_spec.items(), key=lambda kv: -kv[1][0]):
        print(f"  {s:9.1f} s  {n:4d} tests  {spec}")
    print(f"\n{top} slowest tests:")
    for spec, name, s in sorted(tests, key=lambda t: -t[2])[:top]:
        print(f"  {s:9.1f} s  {spec}: {name}")
    print(f"\ntotal: {sum(t[2] for t in tests):.1f} s over {len(tests)} tests "
          f"in {len(per_spec)} specs")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
