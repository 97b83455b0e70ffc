"""Session-scoped Spark state has one owner, ``operators/pins.py``.

Two static guards walk the package's AST: no function outside
``pins.py`` mutates a module-level container (the query registries and
the media decoder hook excepted), and every direct ``localCheckpoint``
sits in a micro-batch function, whose pin the batch owns. One Spark test
checks that ``pins.forget()`` really frees the blocks a memo holds.
"""

import ast
import os

import __spark_entry__ as entry          # noqa: F401 — loads every query module
from tradingview_data_pipeline_spark.operators import pins
from tradingview_data_pipeline_spark.plans import analytics
from tradingview_data_pipeline_spark.plans import training_queries as tq

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tradingview_data_pipeline_spark")
SF = "/root/testdata/sf0.001"

# module-level state a function may change: registries filled at import
REGISTRIES = {("plans/analytics.py", "QUERIES"), ("plans/analytics.py", "ORACLE"),
              ("operators/multimodal.py", "_DECODER")}
# functions that pin one micro-batch's frames with a direct localCheckpoint
MICRO_BATCH = {("streaming/news_dedup.py", "sink")}
CONTAINER_CALLS = {"dict", "list", "set", "defaultdict", "OrderedDict", "deque",
                   "Counter", "WeakKeyDictionary", "WeakValueDictionary"}
MUTATORS = {"append", "extend", "insert", "remove", "pop", "popitem", "clear",
            "update", "setdefault", "add", "discard", "sort", "reverse",
            "appendleft"}
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _modules():
    for root, _, names in os.walk(PKG):
        for n in sorted(names):
            rel = os.path.relpath(os.path.join(root, n), PKG)
            if n.endswith(".py") and rel != os.path.join("operators", "pins.py"):
                with open(os.path.join(root, n)) as fh:
                    yield rel, ast.parse(fh.read())


def _is_container(value) -> bool:
    if isinstance(value, (ast.Dict, ast.List, ast.Set,
                          ast.DictComp, ast.ListComp, ast.SetComp)):
        return True
    if isinstance(value, ast.Call):
        f = value.func
        return (f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)) \
            in CONTAINER_CALLS
    return False


def _module_containers(tree) -> set:
    out = set()
    for node in tree.body:
        targets = (node.targets if isinstance(node, ast.Assign) else
                   [node.target] if isinstance(node, ast.AnnAssign) and node.value
                   else [])
        if targets and _is_container(node.value):
            out |= {t.id for t in targets if isinstance(t, ast.Name)}
    return out


def _local_names(fn) -> set:
    """Names a function binds itself (so they shadow module names)."""
    declared_global = {n for node in ast.walk(fn) if isinstance(node, ast.Global)
                       for n in node.names}
    args = fn.args
    bound = {a.arg for a in args.args + args.kwonlyargs + args.posonlyargs}
    bound |= {a.arg for a in (args.vararg, args.kwarg) if a is not None}
    bound |= {n.id for n in ast.walk(fn)
              if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}
    return bound - declared_global


def _mutations(fn, names: set):
    """(line, name) of every in-place change of a module-level name."""
    shadowed = _local_names(fn)
    for node in ast.walk(fn):
        if isinstance(node, ast.Global):
            assigned = {n.id for n in ast.walk(fn)
                        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}
            for n in set(node.names) & assigned:
                yield node.lineno, n
        elif (isinstance(node, ast.Subscript) and isinstance(node.value, ast.Name)
              and isinstance(node.ctx, (ast.Store, ast.Del))):
            if node.value.id in names - shadowed:
                yield node.lineno, node.value.id
        elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
              and node.func.attr in MUTATORS
              and isinstance(node.func.value, ast.Name)):
            if node.func.value.id in names - shadowed:
                yield node.lineno, node.func.value.id


def _enclosing(tree):
    """(node, innermost enclosing function name or None) for every node."""
    stack = [(tree, None)]
    while stack:
        node, fn = stack.pop()
        yield node, fn
        inner = node.name if isinstance(node, FUNCS) else fn
        stack.extend((c, inner) for c in ast.iter_child_nodes(node))


def test_no_function_mutates_module_state_outside_pins():
    bad = set()
    for rel, tree in _modules():
        names = _module_containers(tree)
        for fn in (n for n in ast.walk(tree) if isinstance(n, FUNCS)):
            for line, name in _mutations(fn, names):
                if (rel, name) not in REGISTRIES:
                    bad.add(f"{rel}:{line} {name}")
    assert not bad, ("session state outside operators/pins.py (use pins.memo / "
                     f"pins.checkpoint): {sorted(bad)}")


def test_micro_batch_entries_name_existing_functions():
    """A dead entry would let a future localCheckpoint into any function
    of the same name in that module."""
    defined = {(rel, n.name) for rel, tree in _modules()
               for n in ast.walk(tree) if isinstance(n, FUNCS)}
    assert not MICRO_BATCH - defined, sorted(MICRO_BATCH - defined)


def test_direct_local_checkpoints_are_micro_batch_pins():
    bad = []
    for rel, tree in _modules():
        for node, fn in _enclosing(tree):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "localCheckpoint"
                    and (rel, fn) not in MICRO_BATCH):
                bad.append(f"{rel}:{node.lineno} in {fn}")
    assert not bad, ("query- or job-owned localCheckpoint not routed through "
                     f"pins.checkpoint: {sorted(bad)}")


def test_forget_frees_memo_blocks_and_rebuild_matches(spark):
    """q28's LSH substrate survives the query boundary as a session memo;
    ``pins.forget()`` frees its checkpoint blocks by RDD id, and the
    rebuilt substrate yields the same rows."""
    sc = spark.sparkContext

    def stored():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    pins.forget()
    pins.release_all(blocking=True)
    pins.release_checkpoints(blocking=True)
    before = stored()
    q28 = analytics.QUERIES["q28_lsh_near_dup"]
    rows = sorted(q28(spark, SF).collect())
    assert rows
    pins.release_all(blocking=True)
    pins.release_checkpoints(blocking=True)       # the query boundary
    assert stored() - before, "memo'd substrate freed at the query boundary"
    assert (tq.LSH_SUBSTRATE, SF) in pins.BUILD_SEC
    assert pins.forget() == 1
    assert stored() - before == set()
    assert not pins.BUILD_SEC
    assert sorted(q28(spark, SF).collect()) == rows
    assert (tq.LSH_SUBSTRATE, SF) in pins.BUILD_SEC
    pins.release_all()
    pins.release_checkpoints()
