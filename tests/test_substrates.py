"""The substrate registry: one key convention, one clear()."""

from types import SimpleNamespace

from watsondedupe_spark import substrates


def _session(app_id: str):
    """A stand-in for a SparkSession: the registry reads only its
    application id."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_substrate_is_not_served_to_another_application(tmp_path):
    substrates.clear()
    builds = []

    def build(tag):
        builds.append(tag)
        return tag

    first, second = _session("app-1"), _session("app-2")
    assert substrates.substrate(first, str(tmp_path), "sig", lambda: build("a")) == "a"
    assert substrates.substrate(first, str(tmp_path), "sig", lambda: build("x")) == "a"
    # a restarted session is a new application: its entry is built anew
    assert substrates.substrate(second, str(tmp_path), "sig", lambda: build("b")) == "b"
    # the directory is keyed by its absolute path, and names do not collide
    assert substrates.substrate(first, f"{tmp_path}/sub/..", "sig", lambda: build("y")) == "a"
    assert substrates.substrate(first, str(tmp_path), "pairs", lambda: build("c")) == "c"
    assert builds == ["a", "b", "c"]
    substrates.clear()
    assert substrates.substrate(first, str(tmp_path), "sig", lambda: build("d")) == "d"
    substrates.clear()
