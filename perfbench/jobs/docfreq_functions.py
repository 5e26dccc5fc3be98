"""Document frequency with no combiner: each line is a document, and the
reducer needs every value of its key to take the median in-document
count, so nothing can be merged before the shuffle."""

from collections import Counter


def mapper(key, value):
    return list(Counter(value.split()).items())


def reducer(key, values):
    tfs = sorted(values)
    return key, (len(tfs), tfs[len(tfs) // 2])
