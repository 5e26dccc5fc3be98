"""Word count with a combiner: the reference's count_functions.py job."""


def mapper(key, value):
    return [(w, 1) for w in value.split()]


def combiner(key, values):
    return key, sum(values)


def reducer(key, values):
    return key, sum(values)
