"""Every environment variable the library reads, found by walking the AST
of each module under lucene_spark/. A knob should be an explicit option;
this list may only shrink."""

import ast
import os

import lucene_spark

# variables any module may read: the tier caps that perfbench and the
# tests still switch through the environment
CAPS = {
    "LUCENE_SPARK_HOT_CACHE_POSTINGS",
    "LUCENE_SPARK_MIN_PRUNABLE",
    "LUCENE_SPARK_DRIVER_META_MAX",
}
# variables only the session factory reads
SESSION = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM"}


def _env_reads(tree):
    """(line, variable name or None) of every use of os.environ / os.getenv
    in a module; None where the name is not a string literal or the use is
    not a keyed read."""
    os_names = {"os"}
    env_names, getenv_names = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            os_names |= {a.asname or a.name for a in node.names if a.name == "os"}
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            for a in node.names:
                if a.name == "environ":
                    env_names.add(a.asname or a.name)
                elif a.name == "getenv":
                    getenv_names.add(a.asname or a.name)

    def is_os_attr(n, attr):
        return (isinstance(n, ast.Attribute) and n.attr == attr
                and isinstance(n.value, ast.Name) and n.value.id in os_names)

    def is_environ(n):
        return is_os_attr(n, "environ") or (isinstance(n, ast.Name) and n.id in env_names)

    def key(n):
        return n.value if isinstance(n, ast.Constant) and isinstance(n.value, str) else None

    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    reads = []
    for node in ast.walk(tree):
        if is_os_attr(node, "getenv") or (isinstance(node, ast.Name) and node.id in getenv_names):
            call = parents.get(node)
            ok = isinstance(call, ast.Call) and call.func is node and call.args
            reads.append((node.lineno, key(call.args[0]) if ok else None))
        elif is_environ(node):
            up = parents.get(node)
            if isinstance(up, ast.Subscript) and up.value is node:
                reads.append((node.lineno, key(up.slice)))
            elif isinstance(up, ast.Attribute) and up.value is node:
                call = parents.get(up)
                ok = (up.attr in ("get", "setdefault", "pop") and isinstance(call, ast.Call)
                      and call.func is up and call.args)
                reads.append((node.lineno, key(call.args[0]) if ok else None))
            elif isinstance(up, ast.Compare) and node in up.comparators:
                reads.append((node.lineno, key(up.left)))
            else:
                reads.append((node.lineno, None))
    return reads


def test_env_reads_are_the_known_knobs():
    root = os.path.dirname(lucene_spark.__file__)
    found, bad = set(), []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, root)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for line, name in _env_reads(tree):
                found.add(name)
                allowed = CAPS | (SESSION if rel == "session.py" else set())
                if name not in allowed:
                    bad.append(f"{rel}:{line}: {name or 'a read of no literal name'}")
    assert not bad, "environment reads beyond the known knobs:\n" + "\n".join(bad)
    # the walk finds the reads it is meant to guard
    assert found == CAPS | SESSION


def test_env_read_walk_sees_every_form():
    src = (
        "import os\nimport os as o\nfrom os import environ as E, getenv\n"
        "a = os.environ.get('A')\nb = o.environ['B']\nc = 'C' in E\n"
        "d = getenv('D')\ne = os.getenv(name)\nf = dict(os.environ)\n"
    )
    assert sorted(_env_reads(ast.parse(src)), key=lambda r: r[0]) == [
        (4, "A"), (5, "B"), (6, "C"), (7, "D"), (8, None), (9, None),
    ]
