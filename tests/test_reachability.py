"""tools/reachability.py on a tiny synthetic package (no Spark)."""

import importlib.util
from pathlib import Path

_TOOL = Path(__file__).resolve().parent.parent / "tools" / "reachability.py"
_spec = importlib.util.spec_from_file_location("reachability", _TOOL)
reachability = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(reachability)


def _write(root: Path, files: dict) -> None:
    for rel, text in files.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text)


def test_closure_follows_module_function_and_relative_imports(tmp_path, capsys):
    _write(
        tmp_path,
        {
            # module-level absolute import, and a function-level one
            "main.py": "import pkg.a\n\n\ndef f():\n    from pkg import b\n",
            # a sibling of the root script resolves like sys.path[0]
            "bench/run.py": "def go():\n    import helper\n",
            "bench/helper.py": "from pkg.sub.d import x\n",
            "pkg/__init__.py": "",
            "pkg/a.py": "from .sub import c\n",
            "pkg/b.py": "B = 1\n",
            "pkg/sub/__init__.py": "",
            "pkg/sub/c.py": "from ..b import B\nC = B\n",
            "pkg/sub/d.py": "x = 1\n",
            # importing reached modules does not make a module reached
            "pkg/dead.py": "import pkg.a\nimport pkg.sub.c\n\nDEAD = 1\n",
        },
    )
    roots = [tmp_path / "main.py", tmp_path / "bench" / "run.py"]
    rep = reachability.report(roots, tmp_path / "pkg", tmp_path)

    assert dict(rep["reached"]) == {
        "pkg": 0,
        "pkg.a": 1,
        "pkg.b": 1,
        "pkg.sub": 0,
        "pkg.sub.c": 2,
        "pkg.sub.d": 1,
    }
    assert rep["unreached"] == [("pkg.dead", 4)]

    reachability.print_report(rep)
    out = capsys.readouterr().out
    assert "reached: 6/7 modules, 5/9 lines" in out
    assert "unreached: 1/7 modules, 4/9 lines" in out
    assert "       4  pkg.dead" in out


#: the package modules no contract query, bench stage or lifecycle
#: path reaches on purpose, each with the reason it is kept
KEPT_UNREACHED = {
    "trial_submission_studio_spark.io.project": "the reference's project"
    " persistence (save/load, SHA-256 source hashing), in paper scope",
    "trial_submission_studio_spark.operators.planaudit": "plan facts,"
    " kept until the engine's run record either uses or drops them",
}


def test_repo_unreached_modules_are_the_kept_ones():
    """Dead-code guard over the real repository: a new package module
    that no contract query, bench stage or lifecycle path imports, or
    a re-export barrel that hides one, changes this set."""
    repo = reachability.REPO
    roots = sorted(
        {p for pat in reachability.DEFAULT_ROOTS for p in repo.glob(pat)}
    )
    rep = reachability.report(roots, repo / reachability.PACKAGE, repo)
    assert {name for name, _ in rep["unreached"]} == set(KEPT_UNREACHED)
