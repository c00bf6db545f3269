"""Pure metric arithmetic for the benchmark: medians, self times, error
accounting and the repeat check. Kept free of I/O so the unit tests in
``perfbench/tests`` can pin it."""
import statistics

# Spans whose wall time their child (layer) spans must cover: each op, and
# the schema_build layer probe's build.
COVERED = ("op", "engine.build")


def median(values):
    return statistics.median(values)


def self_times(spans):
    """Self time of each span: its duration minus the time its direct
    children cover (overlapping children counted once).

    ``spans`` is a list of dicts with ``id``, ``parent``, ``start_s`` and
    ``end_s``; returns ``{id: self_seconds}``."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_s"]):
            start, end = max(c["start_s"], s["start_s"]), min(c["end_s"], s["end_s"])
            if end <= start:
                continue
            if cur_end is None or start > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = start, end
            else:
                cur_end = max(cur_end, end)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end_s"] - s["start_s"]) - covered
    return out


def layer_gap(spans):
    """Largest share of a covered span's wall time that its layer spans do
    not cover (its self time over its duration)."""
    selfs = self_times(spans)
    worst = 0.0
    for s in spans:
        dur = s["end_s"] - s["start_s"]
        if s["name"] in COVERED and dur > 0:
            worst = max(worst, selfs[s["id"]] / dur)
    return worst


def account_errors(ops, wedged, digest_groups):
    """Error accounting for one run.

    * ``ops``: op records with ``status`` (``ok`` or ``error``), ``name``,
      ``pass`` and ``digest``;
    * ``wedged``: names of warm-up bodies that timed out at the barrier;
    * ``digest_groups``: ``{name: reference digest}``; an ok op whose digest
      differs is a mismatch.

    Each failed op counts once (an op that raised has no digest to compare)
    and each wedged body counts as one more failed op. Returns
    ``(attempted, failed, failures)`` with ``failures`` naming each."""
    failures = []
    for o in ops:
        if o["status"] != "ok":
            failures.append(f"{o['name']}#pass{o['pass']}: {o['status']} {o.get('detail', '')}".strip())
        elif o["name"] in digest_groups and o["digest"] != digest_groups[o["name"]]:
            failures.append(f"{o['name']}#pass{o['pass']}: digest {o['digest']} "
                            f"!= {digest_groups[o['name']]}")
    failures += [f"warm-up body {w}: wedged" for w in wedged]
    return len(ops) + len(wedged), len(failures), failures


def reference_digests(ops):
    """Reference digest per op name: the digest of its first successful
    op. Later passes must reproduce it."""
    ref = {}
    for o in sorted(ops, key=lambda o: o["pass"]):
        if o["status"] == "ok" and o["name"] not in ref:
            ref[o["name"]] = o["digest"]
    return ref


def repeat_check(a, b):
    """Counters that repeat exactly across two runs of the same code:
    ``{name: (value_a, value_b, equal)}`` over the names both carry."""
    return {k: (a[k], b[k], a[k] == b[k]) for k in sorted(set(a) & set(b))}
