#!/usr/bin/env python3
"""Count a log's WARN lines by logger class.

    python3 scripts/warn_count.py tier1.log [more.log ...]

Reads log4j lines of the form `yy/MM/dd HH:mm:ss WARN <Logger>: <message>`
(Spark's default console layout, also when sbt prefixes them with
`[info]` or `[error]`) and prints one `<count>  <logger>` row per logger,
most frequent first, then the total. A file named `-` is read from
standard input.
"""
import collections
import re
import sys

WARN = re.compile(r"\d\d/\d\d/\d\d \d\d:\d\d:\d\d WARN ([\w.$]+):")


def count(lines):
    c = collections.Counter()
    for line in lines:
        m = WARN.search(line)
        if m:
            c[m.group(1)] += 1
    return c


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    total = collections.Counter()
    for p in paths:
        f = sys.stdin if p == "-" else open(p, errors="replace")
        try:
            total += count(f)
        finally:
            if f is not sys.stdin:
                f.close()
    width = len(str(max(total.values(), default=0)))
    for logger, n in sorted(total.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:>{width}}  {logger}")
    print(f"{sum(total.values()):>{width}}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
