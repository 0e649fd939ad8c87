"""ORM fluent API (Model.java parity) + second-batch dialect rewrites
(CSVREAD in SQL, TABLE() constructor, positional parameters)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_lealone_spark.orm import Model
from etl_lealone_spark.session import EngineSession


@pytest.fixture()
def es(spark, tmp_path):
    s = EngineSession(spark, warehouse=str(tmp_path))
    s.sql("CREATE TABLE customer (id int PRIMARY KEY, name varchar(20), bal double)")
    s.sql(
        "INSERT INTO customer VALUES (1,'ann',100.0),(2,'bob',250.0),"
        "(3,'cat',50.0),(4,'dan',250.0)"
    )
    s.sql("CREATE TABLE addr (cust_id int, city varchar(20))")
    s.sql("INSERT INTO addr VALUES (1,'rome'),(2,'oslo'),(9,'nowhere')")
    return s


# --- ORM (OrmCrudTest / OrmJoinTest shapes) ---------------------------------
def test_orm_find_list_where_order(es):
    Customer = Model(es, "customer")
    rows = (
        Customer.select("name", "bal")
        .where(Customer.c.bal >= 100)
        .order_by("bal", desc=True)
        .find_list()
    )
    assert [r["name"] for r in rows] == ["bob", "dan", "ann"] or [
        r["name"] for r in rows
    ] == ["dan", "bob", "ann"]


def test_orm_find_one_and_count(es):
    Customer = Model(es, "customer")
    assert Customer.where(Customer.c.name == "cat").find_one()["bal"] == 50.0
    assert Customer.find_count() == 4
    assert Customer.where(Customer.c.bal > 1000).find_one() is None


def test_orm_join(es):
    Customer = Model(es, "customer")
    got = (
        Customer.join("addr", Customer.c.id == F.col("cust_id"), "inner")
        .select("name", "city")
        .order_by("name")
        .find_list()
    )
    assert [(r["name"], r["city"]) for r in got] == [("ann", "rome"), ("bob", "oslo")]


def test_orm_group_agg(es):
    Customer = Model(es, "customer")
    got = {
        r["bal"]: r["n"]
        for r in Customer.group_by("bal")
        .agg(F.count(F.lit(1)).alias("n"))
        .find_list()
    }
    assert got[250.0] == 2


def test_orm_crud(es):
    Customer = Model(es, "customer")
    Customer.insert(id=5, name="eve", bal=75.0)
    assert Model(es, "customer").find_count() == 5
    Customer.update(F.col("id") == 5, bal=80.0)
    assert Model(es, "customer").where(F.col("id") == 5).find_one()["bal"] == 80.0
    Customer.delete(F.col("id") == 5)
    assert Model(es, "customer").find_count() == 4


# --- dialect batch 2 --------------------------------------------------------
def test_csvread_in_sql(es, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("id,name\n1,aa\n2,bb\n")
    rows = es.sql(f"SELECT * FROM CSVREAD('{p}') ORDER BY id").collect()
    assert [(r["id"], r["name"]) for r in rows] == [("1", "aa"), ("2", "bb")]


def test_table_constructor_single(es):
    rows = es.sql("SELECT * FROM TABLE(x INT=ARRAY[1, 2, 3]) ORDER BY x").collect()
    assert [r["x"] for r in rows] == [1, 2, 3]


def test_table_constructor_multi(es):
    rows = es.sql(
        "SELECT * FROM TABLE(id INT=ARRAY[1,2], nm VARCHAR=ARRAY['a','b']) ORDER BY id"
    ).collect()
    assert [(r["id"], r["nm"]) for r in rows] == [(1, "a"), (2, "b")]


def test_positional_params(es):
    rows = es.sql(
        "SELECT count(*) AS n FROM customer WHERE bal >= ? AND name <> ?",
        args=[100.0, "ann"],
    ).collect()
    assert rows[0]["n"] == 2


def test_positional_params_count_mismatch(es):
    with pytest.raises(ValueError, match="placeholders"):
        es.sql("SELECT ? AS a, ? AS b", args=[1])


def test_positional_params_skip_literals(es):
    row = es.sql("SELECT ? AS a, 'why?' AS b", args=[1]).collect()[0]
    assert (row["a"], row["b"]) == (1, "why?")
    with pytest.raises(ValueError, match="placeholders"):
        es.sql("SELECT ? AS a, 'why?' AS b", args=[1, 2])


def test_named_params(es):
    rows = es.sql(
        "SELECT count(*) AS n FROM customer WHERE bal >= :minbal",
        args={"minbal": 100.0},
    ).collect()
    assert rows[0]["n"] == 3


# --- typed properties (lealone-orm P* classes; OrmExpressionTest shapes) ----
def test_orm_typed_property_predicates(es):
    Customer = Model(es, "customer")
    p = Customer.p
    assert Customer.where(p.id.eq(2)).find_one()["name"] == "bob"
    assert Customer.where(p.id.ne(2)).find_count() == 3
    assert Customer.where(p.bal.gt(100)).find_count() == 2
    assert Customer.where(p.bal.ge(100)).find_count() == 3
    assert Customer.where(p.bal.lt(100)).find_count() == 1
    assert Customer.where(p.bal.le(100)).find_count() == 2
    assert Customer.where(p.bal.between(50, 100)).find_count() == 2
    assert Customer.where(p.id.in_(1, 3)).find_count() == 2
    assert Customer.where(p.id.in_([1, 3])).find_count() == 2
    assert Customer.where(p.id.not_in(1, 3)).find_count() == 2
    assert Customer.where(p.name.is_not_null()).find_count() == 4


def test_orm_string_properties(es):
    Customer = Model(es, "customer")
    p = Customer.p
    assert Customer.where(p.name.like("%a%")).find_count() == 3  # ann,cat,dan
    assert Customer.where(p.name.starts_with("a")).find_one()["name"] == "ann"
    assert Customer.where(p.name.ends_with("b")).find_one()["name"] == "bob"
    assert Customer.where(p.name.contains("o")).find_one()["name"] == "bob"
    assert Customer.where(p.name.ieq("ANN")).find_count() == 1
    assert Customer.where(p.name.istarts_with("A")).find_count() == 1
    assert Customer.where(p.name.icontains("O")).find_count() == 1
    assert Customer.where(p.name.match("^[ab]")).find_count() == 2


def test_orm_fluent_where_chain(es):
    """where().prop.pred().or_().prop.pred() — Model.java where:424 +
    OrmJoinTest's or-chain (…where().id.eq(100).or().customerId.eq(200))."""
    Customer = Model(es, "customer")
    rows = (
        Customer.where().bal.eq(250.0).or_().name.eq("ann")
        .order_by("id").find_list()
    )
    assert [r["name"] for r in rows] == ["ann", "bob", "dan"]
    # AND is the default connective
    assert Customer.where().bal.eq(250.0).name.eq("dan").find_count() == 1
    # not_() negates the next predicate
    assert Customer.where().not_().bal.eq(250.0).find_count() == 2
    # count/one terminals on the chain
    assert Customer.where().id.between(1, 2).find_count() == 2


def test_orm_typed_join(es):
    """OrmJoinTest join shape: select(c.name, o.city) join on typed eq."""
    Customer, Addr = Model(es, "customer"), Model(es, "addr")
    rows = (
        Customer.join(Addr, Customer.c.id == Addr.c.cust_id)
        .select("name", "city")
        .order_by("name")
        .find_list()
    )
    assert [(r["name"], r["city"]) for r in rows] == [
        ("ann", "rome"), ("bob", "oslo")
    ]


def test_orm_fluent_insert(es):
    """new Customer().id.set(100).name.set("c1").insert() equivalent."""
    Customer = Model(es, "customer")
    Customer.new().id.set(100).name.set("eve").bal.set(7.5).insert()
    got = Model(es, "customer").where().id.eq(100).find_one()
    assert (got["name"], got["bal"]) == ("eve", 7.5)


def test_orm_deferred_join_on(es):
    """c.join(o).on(cond) — the reference's join(o).on() deferred form."""
    Customer, Addr = Model(es, "customer"), Model(es, "addr")
    rows = (
        Customer.join(Addr).on(Customer.c.id == Addr.c.cust_id)
        .select("name", "city").order_by("name").find_list()
    )
    assert [(r["name"], r["city"]) for r in rows] == [
        ("ann", "rome"), ("bob", "oslo")
    ]


def test_orm_with_children_navigation(es):
    """OrmJoinTest object-graph navigation (customer.getOrderList()):
    child rows nest as an array<struct> column; parents without
    children get an empty array."""
    Customer, Addr = Model(es, "customer"), Model(es, "addr")
    rows = (
        Customer.with_children(Addr, Customer.c.id == Addr.c.cust_id, "addrs")
        .order_by("id")
        .find_list()
    )
    by_id = {r["id"]: r["addrs"] for r in rows}
    assert len(rows) == 4  # parent count preserved
    assert [a["city"] for a in by_id[1]] == ["rome"]
    assert [a["city"] for a in by_id[2]] == ["oslo"]
    assert by_id[3] == [] and by_id[4] == []  # no children → empty array


def test_orm_lp_rp_grouping(es):
    """OrmExpressionTest.java:37 shape: a.eq AND ( b.eq OR b.eq )."""
    from etl_lealone_spark.orm import Model

    m = Model(es, "customer")
    grouped = sorted(
        r.id
        for r in m.where().bal.eq(250.0).and_().lp().name.eq("bob")
        .or_().name.eq("ann").rp().find_list()
    )
    assert grouped == [2]  # bal=250 AND (name='bob' OR name='ann')
    flat = sorted(
        r.id
        for r in m.where().bal.eq(250.0).and_().name.eq("bob")
        .or_().name.eq("ann").find_list()
    )
    assert flat == [1, 2]  # (bal=250 AND name='bob') OR name='ann'
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unbalanced"):
        m.where().lp().name.eq("ann").find_list()
