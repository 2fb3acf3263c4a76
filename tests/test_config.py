"""Engine configuration surface: CrawlConfig JSON compatibility and the
set of environment variables the engine reads. Pure Python, no Spark."""

import ast
import json
import os

import pytest

from atra_spark.config import CrawlConfig

# A config.json as written before the applyInPandas admission path was
# removed (the perfbench corpus cache and the contract fixtures keep
# such files across code changes).
PRE_SCHEDULER_REMOVAL_JSON = (
    '{"aqe_in_round": false, "audit_tables": true, "blacklist": '
    '[".*blocked\\\\.example.*"], "broadcast_fetch_max_urls": 10000000, '
    '"broadcast_robots_max_hosts": 10000000, "default_budget": '
    '{"depth_on_website": 3, "distance_to_seed": 1, "kind": "normal", '
    '"total_distance": 0}, "delay_ms": 1000, "extract_arrow_batch": 0, '
    '"max_queue_age": 20, "max_rounds": 32, "per_host_budget": '
    '{"mega.example": {"depth_on_website": 2, "distance_to_seed": 0, '
    '"kind": "seed_only", "total_distance": 0}}, "recrawl_interval_s": null, '
    '"respect_nofollow": true, "respect_robots_txt": true, '
    '"round_budget_ms": 10000, "seen_compact_every": 8, '
    '"use_aggressive_extractors": false, "use_pandas_scheduler": false, '
    '"user_agent": "atra-spark/0.1"}'
)

# the deployment settings: cores, driver heap, and the Spark conf
# override that reaches every session default
ENGINE_ENV = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "ATRA_SPARK_CONF"}


class TestFromJson:
    def test_loads_config_with_retired_scheduler_key(self):
        cfg = CrawlConfig.from_json(PRE_SCHEDULER_REMOVAL_JSON)
        assert cfg.blacklist == [r".*blocked\.example.*"]
        assert cfg.per_host_budget["mega.example"].kind == "seed_only"
        assert cfg.default_budget.depth_on_website == 3
        assert not hasattr(cfg, "use_pandas_scheduler")
        assert "use_pandas_scheduler" not in json.loads(cfg.to_json())

    def test_unknown_key_still_raises(self):
        d = json.loads(CrawlConfig().to_json())
        d["no_such_option"] = 1
        with pytest.raises(TypeError):
            CrawlConfig.from_json(json.dumps(d))


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _key(node: ast.AST) -> str:
    return node.value if isinstance(node, ast.Constant) else f"<non-literal {ast.dump(node)}>"


def _env_keys(tree: ast.AST) -> set[str]:
    keys = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr in ("get", "setdefault", "pop") and _is_environ(f.value):
                keys.add(_key(node.args[0]))
            elif (isinstance(f, ast.Attribute) and f.attr == "getenv") or (
                isinstance(f, ast.Name) and f.id == "getenv"
            ):
                keys.add(_key(node.args[0]))
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            keys.add(_key(node.slice))
        elif isinstance(node, ast.Compare) and any(_is_environ(c) for c in node.comparators):
            keys.add(_key(node.left))
    return keys


def test_env_scanner_sees_every_read_form():
    src = (
        "import os\nfrom os import environ, getenv\n"
        "os.environ.get('A'); os.environ['B']; os.getenv('C'); environ.get('D')\n"
        "getenv('E'); 'F' in os.environ; os.environ.setdefault('G', '1')\n"
    )
    assert _env_keys(ast.parse(src)) == set("ABCDEFG")


def test_engine_reads_only_deployment_env():
    """Every behaviour switch is a CrawlConfig field or a Spark conf;
    the engine reads no hidden environment knobs."""
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "atra_spark")
    found: dict[str, list[str]] = {}
    for d, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                p = os.path.join(d, name)
                with open(p, encoding="utf-8") as f:
                    for k in _env_keys(ast.parse(f.read(), p)):
                        found.setdefault(k, []).append(os.path.relpath(p, root))
    assert set(found) == ENGINE_ENV, found
