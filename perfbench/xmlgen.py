"""Seeded generator of HPCtoolkit experiment XML, plus the answers the
benchmark checks the engine against.

The XML follows the experiment DTD: a ``SecCallPathProfile`` whose
``SecHeader`` holds a ``MetricTable`` (with ``finalize`` and ``combine``
``MetricFormula`` children), a ``LoadModuleTable``, a ``FileTable`` and a
``ProcedureTable``; its ``SecCallPathProfileData`` nests procedure frames
(``PF``), inlined procedures (``Pr``), loops (``L``), statements (``S``)
and callsites (``C``, each wrapping the callee's ``PF``).  Costs are sampled at statements, one draw
per metric family, so a statement can carry samples in one family and
none in another, and whole subtrees can be empty in a family, as in a
real sampled profile.  An empty metric is omitted from the XML, as
hpcprof omits it.

Every expected value is computed here from the generated tree, without
the engine: rows per profile, the hot-path chain, per-procedure
exclusive sums and the merged inclusive sum per callpath.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

FAMILIES = ("CPUTIME (usec)", "PAPI_TOT_CYC", "PAPI_L1_DCM")
# share of statements with no sample in the family, and the sample period
_EMPTY_SHARE = (0.2, 0.35, 0.5)
_PERIOD = (1000, 40000, 7)
_METRICS_PER_FAMILY = 6
HOT_PATH_THRESHOLD = 0.05


def metric_ids(family: int) -> dict[str, int]:
    """Metric ids of one family: raw accumulators and finalized stats."""
    b = 2 + _METRICS_PER_FAMILY * family
    return {"sum_i": b, "sum_e": b + 1, "mean_i": b + 2, "stddev_i": b + 3,
            "sumsq_i": b + 4, "nsrc_i": b + 5}


def metric_table() -> list[tuple[int, str, str, str | None, str | None]]:
    """(id, name, type, finalize formula, combine formula) per metric."""
    out = []
    for k, fam in enumerate(FAMILIES):
        m = metric_ids(k)
        s, q, n = m["sum_i"], m["sumsq_i"], m["nsrc_i"]
        out += [
            (s, f"{fam}:Sum (I)", "inclusive", None, f"sum(${s}, ${s})"),
            (m["sum_e"], f"{fam}:Sum (E)", "exclusive", None,
             f"sum(${m['sum_e']}, ${m['sum_e']})"),
            (m["mean_i"], f"{fam}:Mean (I)", "inclusive", f"${s} / ${n}",
             None),
            (m["stddev_i"], f"{fam}:StdDev (I)", "inclusive",
             f"sqrt((${q} / ${n}) - pow(${s} / ${n}, 2))", None),
            (q, f"{fam}:accum2 (I)", "inclusive", None, f"sum(${q}, ${q})"),
            (n, f"{fam}:num-src (I)", "inclusive", None, f"max(${n}, ${n})"),
        ]
    return out


@dataclass
class Node:
    tag: str                      # PF, Pr, L, S, C or "" for the data root
    id: int
    proc: int | None = None       # ProcedureTable id (PF and Pr)
    module: int | None = None
    file: int | None = None
    line: int = 0
    children: list["Node"] = field(default_factory=list)
    weight: float = 0.0           # statement hotness (S only)


@dataclass
class Shape:
    """One CCT shape; ranks of a fleet share it and differ in values."""
    root: Node
    procedures: list[str]
    modules: list[str]
    files: list[str]


def make_shape(seed: int, n_nodes: int) -> Shape:
    rng = random.Random(f"shape-{seed}")
    n_procs = max(16, n_nodes // 40)
    procedures = ["<program root>", "main"] + [
        f"{rng.choice(('solve', 'exchange', 'reduce', 'pack', 'sweep', 'flux', 'halo', 'io'))}"
        f"_{rng.choice(('x', 'y', 'z', 'kernel', 'block', 'step'))}_{i}"
        for i in range(n_procs - 2)]
    modules = ["/opt/app/bin/solver", "/usr/lib64/libm.so.6",
               "/opt/mpi/lib/libmpi.so.40"]
    files = [f"./src/{p.split('_')[0]}/{p}.c" for p in procedures[2:]]
    files = ["<unknown file>", "./src/main.c"] + files

    next_id = iter(range(2, 1 << 40, 2))
    root = Node("", -1)
    count = 0

    def new(tag: str, **kw) -> Node:
        nonlocal count
        count += 1
        return Node(tag, next(next_id), **kw)

    def frame(proc: int) -> Node:
        module = 0 if proc < 2 or rng.random() < 0.8 else rng.randrange(1, 3)
        return new("PF", proc=proc, module=module,
                   file=min(proc, len(files) - 1), line=rng.randrange(1, 400))

    top = frame(0)
    root.children.append(top)
    call = new("C", line=0)
    top.children.append(call)
    main = frame(1)
    call.children.append(main)
    # containers eligible for new children, with their depth in callpath
    # terms (callsites are spliced out of callpaths)
    open_: list[tuple[Node, int]] = [(main, 2)]
    while count < n_nodes:
        # prefer recently opened containers, so chains grow deep
        if rng.random() < 0.6:
            i = rng.randrange(max(0, len(open_) - 6), len(open_))
        else:
            i = rng.randrange(len(open_))
        parent, depth = open_[i]
        r = rng.random()
        if depth >= 22 or r < 0.5:
            stmt = new("S", line=rng.randrange(1, 2000),
                       weight=rng.lognormvariate(0.0, 1.6))
            parent.children.append(stmt)
        elif r < 0.68:
            # a loop, or now and then an inlined procedure: both are
            # scopes inside the enclosing frame
            if rng.random() < 0.8:
                scope = new("L", line=rng.randrange(1, 2000))
            else:
                proc = rng.randrange(2, len(procedures))
                scope = new("Pr", proc=proc, file=min(proc, len(files) - 1),
                            line=rng.randrange(1, 2000))
            scope.children.append(new("S", line=rng.randrange(1, 2000),
                                      weight=rng.lognormvariate(0.0, 1.6)))
            parent.children.append(scope)
            open_.append((scope, depth + 1))
        else:
            site = new("C", line=rng.randrange(1, 2000))
            callee = frame(rng.randrange(2, len(procedures)))
            callee.children.append(new("S", line=rng.randrange(1, 2000),
                                       weight=rng.lognormvariate(0.0, 1.6)))
            site.children.append(callee)
            parent.children.append(site)
            open_.append((callee, depth + 1))
    return Shape(root, procedures, modules, files)


@dataclass
class Profile:
    """Raw per-node metric values of one rank, keyed by node id."""
    name: str
    threads: int
    sum_i: dict[int, list[int]]   # family -> inclusive sum, per node id
    sum_e: dict[int, list[int]]
    sumsq: dict[int, list[int]]


def sample_profile(shape: Shape, seed: int, rank: int) -> Profile:
    """Draw statement samples for every family independently."""
    rng = random.Random(f"values-{seed}-{rank}")
    threads = 4
    sum_i: dict[int, list[int]] = {}
    sum_e: dict[int, list[int]] = {}
    sumsq: dict[int, list[int]] = {}

    def walk(node: Node, frame_e: list[int] | None) -> list[int]:
        own = [0] * len(FAMILIES)
        if node.tag == "S":
            hit = [rng.random() >= _EMPTY_SHARE[k] for k in range(len(FAMILIES))]
            if not any(hit):  # a sampled node has at least one sample
                hit[rng.randrange(len(FAMILIES))] = True
            for k in range(len(FAMILIES)):
                if hit[k]:
                    samples = 1 + int(node.weight * rng.uniform(0.5, 1.5) * 20)
                    own[k] = samples * _PERIOD[k]
            sum_e[node.id] = own
            if frame_e is not None:
                for k in range(len(FAMILIES)):
                    frame_e[k] += own[k]
        incl = list(own)
        if node.tag == "PF":
            mine = [0] * len(FAMILIES)
            sum_e[node.id] = mine
            child_frame = mine
        elif node.tag == "C":
            child_frame = None
        else:
            child_frame = frame_e
        for child in node.children:
            sub = walk(child, child_frame)
            for k in range(len(FAMILIES)):
                incl[k] += sub[k]
        sum_i[node.id] = incl
        sumsq[node.id] = [
            int(v * v / threads * rng.uniform(0.85, 1.6)) if v else 0
            for v in incl]
        return incl

    walk(shape.root, None)
    return Profile(f"rank-{rank:03d}", threads, sum_i, sum_e, sumsq)


def _attr(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def render(shape: Shape, prof: Profile) -> bytes:
    out: list[str] = []
    w = out.append
    w('<?xml version="1.0"?>\n<HPCToolkitExperiment version="2.2">\n')
    w(f'<Header n="{_attr(prof.name)}"/>\n')
    w(f'<SecCallPathProfile i="0" n="{_attr(prof.name)}">\n<SecHeader>\n')
    w("<MetricTable>\n")
    for mid, name, kind, fin, comb in metric_table():
        w(f'<Metric i="{mid}" n="{_attr(name)}" v="derived-incr" t="{kind}"'
          ' show="1" show-percent="1">')
        if comb:
            w(f'<MetricFormula t="combine" frm="{comb}"/>')
        if fin:
            w(f'<MetricFormula t="finalize" frm="{fin}"/>')
        w("</Metric>\n")
    w("</MetricTable>\n<LoadModuleTable>\n")
    for i, m in enumerate(shape.modules):
        w(f'<LoadModule i="{i}" n="{_attr(m)}"/>\n')
    w("</LoadModuleTable>\n<FileTable>\n")
    for i, f in enumerate(shape.files):
        w(f'<File i="{i}" n="{_attr(f)}"/>\n')
    w("</FileTable>\n<ProcedureTable>\n")
    for i, p in enumerate(shape.procedures):
        w(f'<Procedure i="{i}" n="{_attr(p)}"/>\n')
    w("</ProcedureTable>\n</SecHeader>\n<SecCallPathProfileData>\n")

    def metrics(node: Node) -> None:
        incl, sq = prof.sum_i[node.id], prof.sumsq[node.id]
        excl = prof.sum_e.get(node.id)
        for k in range(len(FAMILIES)):
            if not incl[k]:
                continue
            m = metric_ids(k)
            w(f'<M n="{m["sum_i"]}" v="{incl[k]}"/>')
            if excl is not None and excl[k]:
                w(f'<M n="{m["sum_e"]}" v="{excl[k]}"/>')
            w(f'<M n="{m["mean_i"]}" v="{incl[k] / prof.threads:g}"/>')
            w(f'<M n="{m["sumsq_i"]}" v="{sq[k]}"/>')
            w(f'<M n="{m["nsrc_i"]}" v="{prof.threads}"/>')

    def emit(node: Node) -> None:
        if node.tag == "PF":
            w(f'<PF i="{node.id}" s="{node.proc}" l="{node.line}" '
              f'lm="{node.module}" f="{node.file}" n="{node.proc}">')
        elif node.tag == "Pr":
            w(f'<Pr i="{node.id}" l="{node.line}" f="{node.file}" '
              f'n="{node.proc}">')
        elif node.tag:
            w(f'<{node.tag} i="{node.id}" l="{node.line}">')
        metrics(node)
        for child in node.children:
            emit(child)
        if node.tag:
            w(f"</{node.tag}>\n")

    emit(shape.root)
    w("</SecCallPathProfileData>\n</SecCallPathProfile>\n"
      "</HPCToolkitExperiment>\n")
    return "".join(out).encode()


# ---------------------------------------------------------------------------
# expected answers, computed from the generated tree
# ---------------------------------------------------------------------------

def rows(shape: Shape) -> list[tuple[tuple[int, ...], Node, str | None]]:
    """(callpath, node, procedure) per CCT row, callsites spliced out."""
    out = []

    def walk(node: Node, path: tuple[int, ...], proc: str | None) -> None:
        if node.tag == "C":
            for child in node.children:
                walk(child, path, proc)
            return
        if node.tag:
            path = (*path, node.id)
            if node.tag in ("PF", "Pr"):
                proc = shape.procedures[node.proc]
        out.append((path, node, proc))
        for child in node.children:
            walk(child, path, proc)

    walk(shape.root, (), None)
    return out


def expected_hot_path(shape: Shape, prof: Profile) -> list[int]:
    """Greedy descent on CPUTIME Mean (I) ratio of total: hottest child
    (ties by smallest id) while it holds at least the threshold."""
    by_parent: dict[tuple[int, ...], list[tuple[int, ...]]] = {}
    value: dict[tuple[int, ...], float | None] = {}
    threads = float(prof.threads)
    root_mean = prof.sum_i[-1][0] / threads
    for path, node, _ in rows(shape):
        s = prof.sum_i[node.id][0]
        value[path] = (s / threads) / root_mean if s else None
        if path:
            by_parent.setdefault(path[:-1], []).append(path)
    current: tuple[int, ...] = ()
    chain = [-1]
    while True:
        kids = by_parent.get(current, [])
        if not kids:
            break
        best = max(kids, key=lambda p: (
            value[p] if value[p] is not None else float("-inf"), -p[-1]))
        if value[best] is None or value[best] < HOT_PATH_THRESHOLD:
            break
        current = best
        chain.append(best[-1])
    return chain


def expected_flat_profile(shape: Shape, prof: Profile) -> dict[str, float | None]:
    """Per-procedure sum of CPUTIME Sum (E) over rows with a procedure;
    None where no row of the procedure has an exclusive CPUTIME value."""
    out: dict[str, float | None] = {}
    for _, node, proc in rows(shape):
        if proc is None:
            continue
        e = prof.sum_e.get(node.id)
        v = float(e[0]) if e is not None and e[0] else None
        if v is None:
            out.setdefault(proc, None)
        else:
            out[proc] = (out.get(proc) or 0.0) + v
    return out


def expected_merge(shape: Shape,
                   profs: list[Profile]) -> dict[tuple[int, ...], float | None]:
    """Merged CPUTIME Sum (I) per callpath: the sum over profiles, None
    where no profile has a value."""
    out: dict[tuple[int, ...], float | None] = {}
    for path, node, _ in rows(shape):
        vals = [p.sum_i[node.id][0] for p in profs if p.sum_i[node.id][0]]
        out[path] = float(sum(vals)) if vals else None
    return out
