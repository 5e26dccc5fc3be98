"""The README's grouped-AVG recipe over a headerless CSV in ``table``
mode: AVG(quantity) GROUP BY partkey, as a partial (sum, count) combiner
and a dividing reducer. Columns: orderkey, partkey, suppkey, quantity."""


def mapper(key, value):
    cols = value.split(",")
    return [(cols[1], (int(cols[3]), 1))]


def combiner(key, values):
    return key, (sum(v[0] for v in values), sum(v[1] for v in values))


def reducer(key, values):
    s = sum(v[0] for v in values)
    c = sum(v[1] for v in values)
    return key, s / c
