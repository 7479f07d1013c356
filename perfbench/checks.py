"""Output checks of the benchmark, computed apart from the engine.

Each check takes the engine's `POST /query` response (parsed JSON) and the
exact answer (DuckDB rows or the live table's running state) and
returns a list of problems; an empty list is a pass. The tests in
`test_checks.py` feed each check a perturbed answer and require a problem.
"""
EXACT_REL = 1e-9     # "equal": the same double up to summation order


def _num(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _close(a, e, allowance):
    if not (_num(a) and _num(e)):
        return a == e
    return abs(a - e) <= allowance + EXACT_REL * max(1.0, abs(e))


def estimated_error(resp):
    return float(resp.get("ml_optimization", {}).get("estimated_error") or 0.0)


def is_approximate(resp):
    """The engine marks an answer approximate by a non-zero error estimate."""
    return estimated_error(resp) > 0.0


def _allowance(spec, exp_row, e, resp, max_rel):
    if spec is None:
        return 0.0
    if spec == "declared":
        return estimated_error(resp) * abs(e)
    if spec == "budget":
        return max_rel * abs(e)
    kind, arg = spec
    if kind == "abs":
        return float(exp_row[arg])
    if kind == "rel":
        return arg * abs(e)
    raise ValueError(spec)


def check_rows(resp, truth_rows, keys, tol, max_rel=0.05, approx_budget=False):
    """Compare an answer's rows with the exact rows.

    `keys` names the group-key columns rows are matched on ("#order" means
    the rows are compared in order). `tol` maps a measure column to its
    allowance: ("abs", col) reads it from the truth row, ("rel", x) is
    relative, "declared" is the engine's own reported bound. With
    `approx_budget`, an approximate answer's measures may differ by the
    request's max_rel_error. Truth columns ending in `__tol` are allowances,
    not measures. Returns (problems, deviations) where deviations are the
    relative errors of the numeric measure cells.
    """
    got = resp.get("result") or []
    problems, devs = [], []
    measures = [c for c in (truth_rows[0].keys() if truth_rows else [])
                if c not in keys and not c.endswith("__tol")]
    if keys == ["#order"]:
        pairs = list(zip(got, truth_rows))
        if len(got) != len(truth_rows):
            problems.append(f"rows: got {len(got)}, expected {len(truth_rows)}")
        measures = list(truth_rows[0].keys()) if truth_rows else []
    else:
        index = {tuple(r.get(k) for k in keys): r for r in got}
        if len(index) != len(got) or set(index) != {tuple(r[k] for k in keys) for r in truth_rows}:
            problems.append(f"groups: got {sorted(map(str, index))}, expected "
                            f"{sorted(str(tuple(r[k] for k in keys)) for r in truth_rows)}")
            return problems, devs
        pairs = [(index[tuple(r[k] for k in keys)], r) for r in truth_rows]
    approx = is_approximate(resp)
    for g, e in pairs:
        for c in measures:
            if c not in g:
                problems.append(f"missing column {c}")
                continue
            a, x = g[c], e[c]
            spec = tol.get(c)
            if approx_budget and approx:
                spec = "budget"
            if spec is not None and not approx and not approx_budget:
                spec = None      # the engine declared this answer exact
            allow = _allowance(spec, e, x, resp, max_rel) if _num(x) else 0.0
            if not _close(a, x, allow):
                problems.append(f"{c}: got {a!r}, expected {x!r} (allowance {allow:.6g})")
            if approx and _num(a) and _num(x) and x != 0:
                devs.append(abs(a - x) / abs(x))
    return problems, devs


def check_scan(served, scan_rows, files, allowance, fact_files):
    """A catalog-served answer reads no fact-table row: its plan names no
    fact file and the request read at most `allowance` rows (the dim a
    star serve reads, or the one-row relation a scalar answer is built
    from)."""
    problems = []
    if served:
        if set(files) & set(fact_files):
            problems.append(f"served answer scans {sorted(set(files) & set(fact_files))}")
        if scan_rows > allowance:
            problems.append(f"served answer read {scan_rows} rows (allowance {allowance})")
    return problems


class LiveTruth:
    """The live table's running state, kept from the generator's batches:
    every appended row counted once."""

    def __init__(self):
        self.n = {}
        self.cents = {}
        self.mn = {}
        self.mx = {}

    def add(self, batch):
        for flag, price, _ in batch:
            whole, frac = price.split(".")
            c = int(whole) * 100 + int(frac)
            self.n[flag] = self.n.get(flag, 0) + 1
            self.cents[flag] = self.cents.get(flag, 0) + c
            self.mn[flag] = min(self.mn.get(flag, c), c)
            self.mx[flag] = max(self.mx.get(flag, c), c)

    @staticmethod
    def money(cents):
        # the decimal sum rounded once to double, as a decimal-to-double cast
        return float(f"{cents // 100}.{cents % 100:02d}")

    def rows(self, rid, args):
        if rid == "live_groups":
            return ["l_returnflag"], [
                {"l_returnflag": f, "n": self.n[f], "s": self.money(self.cents[f])}
                for f in sorted(self.n)]
        if rid == "live_filtered":
            f = args["flag"]
            return [], [{"n": self.n.get(f, 0), "s": self.money(self.cents.get(f, 0)),
                         "mn": self.money(self.mn[f]), "mx": self.money(self.mx[f])}]
        if rid == "live_keys":
            return ["#order"], [{"l_returnflag": f} for f in sorted(self.n)]
        raise ValueError(rid)


def check_live(resp, truth, rid, args):
    keys, rows = truth.rows(rid, args)
    return check_rows(resp, rows, keys, {})


def check_digests(digests):
    """Each stream-maintained artifact equals its batch build over the same rows."""
    return [f"{k}: stream {a[:12]} != batch {b[:12]}"
            for k, (a, b) in sorted(digests.items()) if a != b or a == "missing"]


def _canon(cols, rows):
    """Columns sorted by name, rows sorted by value: the comparison of the
    repo's correctness gate (tools/check_correctness.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(repr(r[i]) for i in order) for r in rows))


def check_operator(got_cols, got_rows, exp_cols, exp_rows):
    """A pipeline operator's output equals its DuckDB oracle exactly."""
    gc, g = _canon(got_cols, got_rows)
    ec, e = _canon(exp_cols, exp_rows)
    if gc != ec:
        return [f"columns: got {gc}, expected {ec}"]
    if len(g) != len(e):
        return [f"rows: got {len(g)}, expected {len(e)}"]
    diff = [(a, b) for a, b in zip(g, e) if a != b]
    return [f"{len(diff)} rows differ; first: got {diff[0][0]}, expected {diff[0][1]}"] if diff else []
