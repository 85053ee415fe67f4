"""Seeded Hive-partitioned lake for the lake_sync workload.

`Lake(seed, n_objects)` lays out small objects under
`data/year=YYYY/month=MM/day=DD/event_type=T/part-NNNNNN.ext`, about 3%
of them with an out-of-range partition value; `plan_cycles(n)` plans n
sync cycles that each add, modify and delete about 1% of the objects.

The glob patterns are built from partition fields, so the generator
knows which objects they match without evaluating a glob: the expected
added / modified / deleted / unchanged counts it records are the
generator's own, independent of graft.

`write_plan` emits one tab-separated file the benchmark JVM replays:
  pattern <glob>
  put     <cycle> <relpath> <size> <mtime_ms>
  del     <cycle> <relpath>
  expect  <cycle> <added> <modified> <deleted> <unchanged>
Cycle 0 is the initial lake; its `expect` line counts the tracked
(matched and valid) objects.
"""
import os
import random

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
YEARS = [2023, 2024, 2025]
EXTS = ["json", "csv", "parquet", "txt"]
BASE_MTIME_MS = 1_700_000_000_000


class Obj:
    __slots__ = ("year", "month", "day", "event_type", "part", "ext", "size", "mtime_ms")

    def __init__(self, year, month, day, event_type, part, ext, size, mtime_ms):
        self.year, self.month, self.day = year, month, day
        self.event_type, self.part, self.ext = event_type, part, ext
        self.size, self.mtime_ms = size, mtime_ms

    @property
    def relpath(self):
        return (f"data/year={self.year}/month={self.month:02d}/day={self.day:02d}/"
                f"event_type={self.event_type}/part-{self.part:06d}.{self.ext}")

    def valid(self):
        return (2020 <= self.year <= 2026 and 1 <= self.month <= 12
                and 1 <= self.day <= 31 and self.event_type in EVENT_TYPES)


class Lake:
    def __init__(self, seed, n_objects):
        self.rng = random.Random(seed)
        self.next_part = 0
        self.objects = {}
        for _ in range(n_objects):
            o = self._new_object()
            self.objects[o.relpath] = o
        self.patterns, self.preds = self._patterns()
        self.initial = sorted(self.objects.values(), key=lambda o: o.relpath)
        self.initial = [(o.relpath, o.size, o.mtime_ms) for o in self.initial]
        self.initial_tracked = sum(self.tracked(o) for o in self.objects.values())
        self.cycles = []

    def plan_cycles(self, n):
        """Plan `n` more sync cycles, each mutating about 1% of the objects."""
        self.cycles += [self._cycle() for _ in range(n)]

    def _new_object(self):
        r = self.rng
        year, month, day = r.choice(YEARS), r.randint(1, 12), r.randint(1, 28)
        event_type = r.choice(EVENT_TYPES)
        if r.random() < 0.03:  # an out-of-range value isValid must reject
            bad = r.randrange(3)
            month = 13 if bad == 0 else month
            day = 0 if bad == 1 else day
            event_type = "unknown" if bad == 2 else event_type
        self.next_part += 1
        return Obj(year, month, day, event_type, self.next_part, r.choice(EXTS),
                   r.randint(64, 4096), BASE_MTIME_MS + r.randrange(10**9) // 1000 * 1000)

    def _patterns(self):
        """Three globs, using `**` and `{a,b}`, with their field predicates."""
        r = self.rng
        y = r.choice(YEARS)
        months = sorted(r.sample(range(1, 13), 5))
        types = sorted(r.sample(EVENT_TYPES, 2))
        day = r.randint(1, 28)
        pats = [
            f"**/year={y}/month={{{','.join(f'{m:02d}' for m in months)}}}/**/*.{{json,csv}}",
            f"**/event_type={{{','.join(types)}}}/part-*.parquet",
            f"**/day={day:02d}/**",
        ]
        preds = [
            lambda o: o.year == y and o.month in months and o.ext in ("json", "csv"),
            lambda o: o.event_type in types and o.ext == "parquet",
            lambda o: o.day == day,
        ]
        return pats, preds

    def matched(self, o):
        return any(p(o) for p in self.preds)

    def tracked(self, o):
        return self.matched(o) and o.valid()

    def _cycle(self):
        r = self.rng
        n = max(3, len(self.objects) // 100)
        keys = r.sample(sorted(self.objects), n // 4 * 3)
        deletes, modifies = keys[: n // 4], keys[n // 4:]
        ops, added, modified, deleted = [], 0, 0, 0
        for k in deletes:
            o = self.objects.pop(k)
            deleted += self.tracked(o)
            ops.append(("del", k, 0, 0))
        for k in modifies:
            o = self.objects[k]
            o.size += r.randint(1, 512)
            o.mtime_ms += 1000 * r.randint(60, 86_400)
            modified += self.tracked(o)
            ops.append(("put", k, o.size, o.mtime_ms))
        for _ in range(n - len(keys)):
            o = self._new_object()
            self.objects[o.relpath] = o
            added += self.tracked(o)
            ops.append(("put", o.relpath, o.size, o.mtime_ms))
        tracked = sum(self.tracked(o) for o in self.objects.values())
        return ops, (added, modified, deleted, tracked - added - modified)


def write_files(lake, root):
    """Materialise the initial lake under `root` (which must not exist)."""
    for rel, size, mtime_ms in lake.initial:
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(b"\0" * size)
        os.utime(path, ns=(mtime_ms * 1_000_000, mtime_ms * 1_000_000))


def write_plan(lake, path):
    with open(path, "w") as f:
        for p in lake.patterns:
            f.write(f"pattern\t{p}\n")
        f.write(f"expect\t0\t{lake.initial_tracked}\t0\t0\t0\n")
        for c, (ops, counts) in enumerate(lake.cycles, start=1):
            for op, rel, size, mtime_ms in ops:
                if op == "del":
                    f.write(f"del\t{c}\t{rel}\n")
                else:
                    f.write(f"put\t{c}\t{rel}\t{size}\t{mtime_ms}\n")
            f.write("expect\t{}\t{}\t{}\t{}\t{}\n".format(c, *counts))
