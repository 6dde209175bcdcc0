"""The job scripts, driven as subprocesses: the stdin REPL front-end
(O1) and the ``--py-files`` package zip."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_lac_cli_repl():
    inp = "百度是一家高科技公司\nspark data join\n\n"
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "lac_cli.py"),
         "--mode", "rank"],
        input=inp, capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr[-500:]
    lines = res.stdout.split("\n")
    # one output line per input line (incl. the empty one) + final \n
    assert len(lines) == 4 and lines[3] == ""
    # every token is word/tag/rank and words reassemble the input
    first = lines[0].split(" ")
    words = [t.rsplit("/", 2)[0] for t in first]
    assert "".join(words) == "百度是一家高科技公司"
    assert all(t.count("/") >= 2 for t in first)
    assert lines[2] == ""  # empty input line → empty output


def test_lac_cli_seg_mode():
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "lac_cli.py"),
         "--mode", "seg"],
        input="数据分析\n", capture_output=True, text=True, timeout=120)
    assert res.returncode == 0
    out = res.stdout.strip()
    assert out.replace(" ", "") == "数据分析"


def _cli(*args, text="春天的花开\n"):
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "lac_cli.py"), *args],
        input=text, capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr[-500:]
    return res.stdout.strip()


def test_lac_cli_custom_dict_changes_tags(tmp_path):
    dic = tmp_path / "season.dic"
    dic.write_text("春天/SEASON\n", encoding="utf-8")
    plain = _cli("--mode", "lac")
    custom = _cli("--mode", "lac", "--custom-dict", str(dic))
    assert "春天/SEASON" not in plain.split(" ")
    assert custom.split(" ")[0] == "春天/SEASON"


def test_package_zip_loads_every_resource(tmp_path):
    """Imported from the ``--py-files`` zip alone, the engine, the
    subword vocab and the LM all find their resources."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    try:
        from make_pyfiles import main as build_zip
    finally:
        sys.path.pop(0)
    zip_path = build_zip(str(tmp_path / "dist"))
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "import lacspark\n"
        "assert lacspark.__file__.startswith(sys.argv[1]), lacspark.__file__\n"
        "from lacspark.engine import LacEngine\n"
        "from lacspark.lm import default_lm\n"
        "from lacspark.subword import default_tokenizer\n"
        "print(LacEngine().run_batch(['百度'], 'seg')[0].words,\n"
        "      default_tokenizer().counts('spark data'), default_lm().v)\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run([sys.executable, "-c", code, zip_path],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=120)
    assert res.returncode == 0, res.stderr[-1000:]
