from perfbench import spark_bench


def test_pass_order_is_seeded_with_index_builder_first():
    build, reuse = spark_bench.SHARED_INDEX
    names = spark_bench.WORKLOADS["spark_queries"]
    orders = []
    for seed in range(50):
        s = spark_bench._Session("spark_queries", "unused", seed)
        order = s._order()
        assert sorted(order) == sorted(names)
        assert order.index(build) < order.index(reuse)
        orders.append(tuple(order))
    assert len(set(orders)) > 10
    again = spark_bench._Session("spark_queries", "unused", 7)
    assert tuple(again._order()) == orders[7]
