"""The ST_*/text SQL pack registers on demand: a statement through the
``Database``/``Table`` gateway registers exactly the pack functions it
calls plus those their bodies call, once per session."""

import pytest

from datum_spark.functions.geometry_sql import (
    _FUNCTIONS,
    _called,
    _pack,
    register_geometry_sql_functions,
)

_DWITHIN = {"st_dwithin", "st_distance", "st_intersects", "st_geometrytype"}


@pytest.fixture()
def fresh(spark):
    """A session with no temporary functions (they are per session)."""
    return spark.newSession()


def _pack_functions(session) -> set[str]:
    # listFunctions marks builtins temporary too (Spark has st_srid & co.)
    names = set(_pack()[0])
    return {f.name for f in session.catalog.listFunctions()
            if f.isTemporary and f.name in names}


def _geo_db(session, path):
    import datum_spark

    db = datum_spark.connect(str(path), spark=session)
    db.create_table("geo", [{"name": "nm", "type": "text"},
                            {"name": "shape", "type": "geom"}])
    db["geo"].write([{"nm": "a", "shape": "POINT (1 2)"},
                     {"nm": "b", "shape": "POINT (5 6)"}])
    return db


def test_no_pack_call_registers_nothing(fresh, tmp_path):
    db = _geo_db(fresh, tmp_path)
    db.ensure_geom_fns()
    assert db.execute("SELECT COUNT(*) AS n FROM geo") == [{"n": 2}]
    assert db["geo"].read(fields=["nm"], return_geom=False,
                          where="nm = 'a'") == [{"nm": "a"}]
    assert _pack_functions(fresh) == set()


def test_execute_registers_call_closure(fresh, tmp_path):
    db = _geo_db(fresh, tmp_path)
    rows = db.execute("SELECT ST_DWithin('POINT (0 0)', 'POINT (3 4)', 5.0)"
                      " AS near, st_dwithin('POINT (0 0)', 'POINT (3 4)',"
                      " 4.9) AS far")
    assert rows == [{"near": True, "far": False}]
    assert _pack_functions(fresh) == _DWITHIN


def test_read_where_registers_on_demand(fresh, tmp_path):
    db = _geo_db(fresh, tmp_path)
    rows = db["geo"].read(fields=["nm"], return_geom=False,
                          where="`st_x` (shape) > 3")
    assert rows == [{"nm": "b"}]
    assert _pack_functions(fresh) == {"st_x"}
    rows = db["geo"].read(fields=["nm"], return_geom=False,
                          where="ST_DWITHIN(shape, 'POINT (0 0)', 3)")
    assert rows == [{"nm": "a"}]
    assert _pack_functions(fresh) == {"st_x"} | _DWITHIN


def test_persisted_view_restores_on_new_session(spark, tmp_path):
    import datum_spark

    db = datum_spark.connect(str(tmp_path), spark=spark.newSession())
    db.create_table("shapes", [{"name": "shape", "type": "geom"}])
    db["shapes"].write([{"shape": "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"}])
    db.create_view("areas", "SELECT st_area(shape) AS a FROM shapes")
    db.close()
    other = spark.newSession()
    db2 = datum_spark.connect(str(tmp_path), spark=other)
    assert db2.execute("SELECT a FROM areas") == [{"a": 4.0}]
    assert _pack_functions(other) == {"st_area"}


def test_register_all_names_and_force(fresh):
    register_geometry_sql_functions(fresh)
    assert _pack_functions(fresh) == set(_pack()[0])
    fresh.sql("DROP TEMPORARY FUNCTION st_x")
    register_geometry_sql_functions(fresh)          # already marked
    assert "st_x" not in _pack_functions(fresh)
    register_geometry_sql_functions(fresh, force=True)
    assert "st_x" in _pack_functions(fresh)
    assert fresh.sql("SELECT st_x('POINT (7 8)') AS x").first()["x"] == 7.0


def test_bodies_call_only_earlier_pack_names():
    """Registration runs in ``_FUNCTIONS`` order, so a body may call
    only pack functions defined before it."""
    names = list(_FUNCTIONS)
    pack = set(_pack()[0])
    for i, (name, (_sig, _ret, body)) in enumerate(_FUNCTIONS.items()):
        calls = (_called(body) & pack) - {name}
        assert calls <= set(names[:i]), (name, calls - set(names[:i]))


def test_called_names():
    assert _called("SELECT `ST_X` (g), COUNT(*) FROM t "
                   "WHERE xst_y(g) AND db.st_area(g) > 0") == {
        "st_x", "count", "xst_y", "st_area"}
