"""List esbulk_spark top-level functions and classes that no served entry
point reaches.

The served entry points are the graded entries (entry_queries.py,
entry_aggs.py), the CLI, bench.py, __spark_entry__.py and perfbench/.
A definition is reached when its name appears as an ast Name, Attribute
or import alias in a served file, in module-level code of any library
module, or in the body of a definition that is itself reached. Names
inside docstrings and comments do not count. Tests are not served, so a
definition that only tests call is listed.

Methods count one by one: a class's methods (other than dunders, which
Python calls implicitly) are reached by name like top-level functions,
and the unreached ones are listed as ``Class.method``.

    python tools/served_scan.py [repo_root]
"""

from __future__ import annotations

import ast
import glob
import os
import sys

SERVED = [
    "esbulk_spark/entry_queries.py", "esbulk_spark/entry_aggs.py",
    "esbulk_spark/cli.py", "bench.py", "__spark_entry__.py",
]


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _names(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
    return out


def main() -> None:
    os.chdir(sys.argv[1] if len(sys.argv) > 1 else ".")
    served = set(SERVED + glob.glob("perfbench/*.py"))
    lib = set(glob.glob("esbulk_spark/**/*.py", recursive=True))
    # name -> (path, node, owning class or None, names its body reaches)
    defs: dict[str, list[tuple[str, ast.AST, str | None, set[str]]]] = {}
    roots: set[str] = set()
    for path in sorted(lib | served):
        with open(path) as f:
            tree = ast.parse(f.read())
        for st in tree.body:
            if isinstance(st, _FUNCS):
                defs.setdefault(st.name, []).append((path, st, None, _names(st)))
            elif isinstance(st, ast.ClassDef):
                shell = set()
                for part in (*st.bases, *st.keywords, *st.decorator_list, *st.body):
                    if isinstance(part, _FUNCS) and not part.name.startswith("__"):
                        defs.setdefault(part.name, []).append(
                            (path, part, st.name, _names(part)))
                    else:
                        shell |= _names(part)
                defs.setdefault(st.name, []).append((path, st, None, shell))
            else:
                roots |= _names(st)  # module-level code runs on import
                continue
            if path in served:
                roots |= _names(st)
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for *_, names in defs.get(name, []):
                todo.extend(names - reached)
    dead = sorted(
        (path, node.lineno, f"{owner}.{name}" if owner else name,
         node.end_lineno - node.lineno + 1)
        for name, found in defs.items() if name not in reached
        for path, node, owner, _ in found if path in lib and path not in served
    )
    for path, line, name, n in dead:
        print(f"{path}:{line} {name} ({n} lines)")
    print(f"{len(dead)} unreached definitions, {sum(d[3] for d in dead)} lines")


if __name__ == "__main__":
    main()
