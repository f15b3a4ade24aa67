"""Output checks of the benchmark.

Each check returns a list of mismatch strings; an empty list means the
program's outputs are correct. Every mismatch counts as one failed
operation in the run's result.
"""


def compare_counts(truth, served, ignore_users=("warmup",)):
    """Exactly-once check of the streaming path.

    `truth` maps `user|sec` to the number of events the generator had
    acknowledged for that (user, second); `served` maps the same keys to
    the count the served table shows. Every acknowledged event must be
    counted exactly once: a dropped micro-batch shows as a short or
    missing window, a doubled one as a window counted too high.
    """
    out = []
    for key, want in sorted(truth.items()):
        got = served.get(key)
        if got != want:
            out.append(f"window {key}: served {got}, acknowledged {want}")
    for key in sorted(set(served) - set(truth)):
        if key.split("|", 1)[0] not in ignore_users:
            out.append(f"window {key}: served {served[key]}, never acknowledged")
    return out


def compare_digests(expected, got):
    """Batch-query check: each query's [rows, hash_lo, hash_hi] digest
    must equal the expected one."""
    out = []
    for name, want in sorted(expected.items()):
        have = got.get(name)
        if have is None:
            out.append(f"query {name}: no result")
        elif list(have) != list(want):
            out.append(f"query {name}: digest {list(have)}, expected {list(want)}")
    return out
