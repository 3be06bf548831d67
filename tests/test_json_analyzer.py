"""JSON analyzer golden cases — the reference's inference test corpus
(lib/test/json_analyzer_test.cc:66-407) re-expressed: every case asserts
the detected shape and the exact arrow-style type string."""

import pytest

from duckdb_wasm_spark.sources.json_analyzer import Shape, analyze_json

# (name, input, shape, type_string)
GOLDENS = [
    # ---- column-major (json_analyzer_test.cc:66-246)
    ("cols_empty", "{}", Shape.COLUMN_OBJECT, "struct<>"),
    (
        "cols_empty_col",
        '{\n  "a": []\n}',
        Shape.COLUMN_OBJECT,
        "struct<a: null>",
    ),
    (
        "cols_single_bool",
        '{ "a": [true, true, false] }',
        Shape.COLUMN_OBJECT,
        "struct<a: bool>",
    ),
    (
        "cols_single_i32",
        '{ "a": [1, 2, 3] }',
        Shape.COLUMN_OBJECT,
        "struct<a: int32>",
    ),
    (
        "cols_single_u32",
        '{ "a": [1, 2, 2147483648] }',
        Shape.COLUMN_OBJECT,
        "struct<a: uint32>",
    ),
    (
        "cols_i32_sign_conflict",
        '{ "a": [1, -2, 2147483648] }',
        Shape.COLUMN_OBJECT,
        "struct<a: int64>",
    ),
    (
        "cols_u64",
        '{ "a": [1, 2, 9223372036854775808] }',
        Shape.COLUMN_OBJECT,
        "struct<a: uint64>",
    ),
    (
        "cols_u64_sign_conflict",
        '{ "a": [-1, 2, 9223372036854775808] }',
        Shape.COLUMN_OBJECT,
        "struct<a: double>",
    ),
    (
        "cols_f64",
        '{ "a": [1.0, 2.0, 3.0] }',
        Shape.COLUMN_OBJECT,
        "struct<a: double>",
    ),
    (
        "cols_f64_mixed_1",
        '{ "a": [1, -2, 3.0, true] }',
        Shape.COLUMN_OBJECT,
        "struct<a: double>",
    ),
    (
        "cols_timestamp_1",
        '{ "a": ["2007-08-31 16:47", "2007-12-24 18:21",'
        ' "2008-02-01 09:00:22", "2009-01-01 12:00:00",'
        ' "2009-06-30 18:30:00"] }',
        Shape.COLUMN_OBJECT,
        "struct<a: timestamp[s]>",
    ),
    (
        "cols_timestamp_mixed_1",
        '{ "a": [1, 2, "2008-02-01 09:00:22", "2009-01-01 12:00:00",'
        ' "2009-06-30 18:30:00"] }',
        Shape.COLUMN_OBJECT,
        "struct<a: timestamp[s]>",
    ),
    (
        "cols_2",
        '{ "a": [1, -2, 3], "b": ["c", "d", "e"] }',
        Shape.COLUMN_OBJECT,
        "struct<a: int32, b: string>",
    ),
    (
        "cols_3",
        '{ "a": [1, -2, 3], "b": ["c", "d", "e"], "f": [true, true, false] }',
        Shape.COLUMN_OBJECT,
        "struct<a: int32, b: string, f: bool>",
    ),
    # ---- row-major (json_analyzer_test.cc:248-407)
    ("rows_empty", "[]", Shape.ROW_ARRAY, "struct<>"),
    (
        "rows_single_bool",
        '[ {"a": true}, {"a": true}, {"a": false} ]',
        Shape.ROW_ARRAY,
        "struct<a: bool>",
    ),
    (
        "rows_single_i32",
        '[ {"a": 1}, {"a": 2}, {"a": 3} ]',
        Shape.ROW_ARRAY,
        "struct<a: int32>",
    ),
    (
        "rows_single_u32",
        '[ {"a": 1}, {"a": 2}, {"a": 2147483648} ]',
        Shape.ROW_ARRAY,
        "struct<a: uint32>",
    ),
    (
        # the reference's row-shape 64-bit branch yields uint64 where the
        # column shape yields int64 (json_analyzer.cc:354-357 vs :294)
        "rows_i32_sign_conflict",
        '[ {"a": 1}, {"a": -2}, {"a": 2147483648} ]',
        Shape.ROW_ARRAY,
        "struct<a: uint64>",
    ),
    (
        "rows_u64",
        '[ {"a": 1}, {"a": 2}, {"a": 9223372036854775808} ]',
        Shape.ROW_ARRAY,
        "struct<a: uint64>",
    ),
    (
        "rows_u64_sign_conflict",
        '[ {"a": 1}, {"a": -2}, {"a": 9223372036854775808} ]',
        Shape.ROW_ARRAY,
        "struct<a: double>",
    ),
    (
        "rows_f64",
        '[ {"a": 1.0}, {"a": 2.0}, {"a": 3.0} ]',
        Shape.ROW_ARRAY,
        "struct<a: double>",
    ),
    (
        "rows_f64_mixed_1",
        '[ {"a": 1}, {"a": -2}, {"a": 3.0}, {"a": true} ]',
        Shape.ROW_ARRAY,
        "struct<a: double>",
    ),
    (
        "rows_timestamp_1",
        '[ {"a": "2007-08-31 16:47"}, {"a": "2007-12-24 18:21"},'
        ' {"a": "2008-02-01 09:00:22"}, {"a": "2009-01-01 12:00:00"},'
        ' {"a": "2009-06-30 18:30:00"} ]',
        Shape.ROW_ARRAY,
        "struct<a: timestamp[s]>",
    ),
    (
        "rows_timestamp_mixed_1",
        '[ {"a": 1}, {"a": 2}, {"a": "2008-02-01 09:00:22"},'
        ' {"a": "2009-01-01 12:00:00"}, {"a": "2009-06-30 18:30:00"} ]',
        Shape.ROW_ARRAY,
        "struct<a: timestamp[s]>",
    ),
    (
        "rows_2",
        '[ {"a": 1, "b": "c"}, {"a": -2, "b": "d"}, {"a": 3, "b": "e"} ]',
        Shape.ROW_ARRAY,
        "struct<a: int32, b: string>",
    ),
    (
        "rows_3",
        '[ {"a": 1, "b": "c", "f": true}, {"a": -2, "b": "d", "f": true},'
        ' {"a": 3, "b": "e", "f": false} ]',
        Shape.ROW_ARRAY,
        "struct<a: int32, b: string, f: bool>",
    ),
    (
        "rows_nested_1",
        '[ {"a": {"b": 1, "c": 2}}, {"a": {"b": 3, "c": 4}},'
        ' {"a": {"b": 5, "c": 6}} ]',
        Shape.ROW_ARRAY,
        "struct<a: struct<b: double, c: double>>",
    ),
]

# the vega movies case (json_analyzer_test.cc:379-397): mixed
# int32/double/string/null columns incl. a non-ISO date that must stay
# a string
_VEGA = (
    '[{"Title": "The Land Girls", "US Gross": 146083, "Worldwide Gross":'
    ' 146083, "US DVD Sales": null, "Production Budget": 8000000,'
    ' "Release Date": "Jun 12 1998", "MPAA Rating": "R",'
    ' "Running Time min": null, "Distributor": "Gramercy", "Source": null,'
    ' "Major Genre": null, "Creative Type": null, "Director": null,'
    ' "Rotten Tomatoes Rating": null, "IMDB Rating": 6.1, "IMDB Votes": 1071},'
    '{"Title": "First Love, Last Rites", "US Gross": 10876,'
    ' "Worldwide Gross": 10876, "US DVD Sales": null,'
    ' "Production Budget": 300000, "Release Date": "Aug 07 1998",'
    ' "MPAA Rating": "R", "Running Time min": null, "Distributor": "Strand",'
    ' "Source": null, "Major Genre": "Drama", "Creative Type": null,'
    ' "Director": null, "Rotten Tomatoes Rating": null, "IMDB Rating": 6.9,'
    ' "IMDB Votes": 207},'
    '{"Title": "Slam", "US Gross": 1009819, "Worldwide Gross": 1087521,'
    ' "US DVD Sales": null, "Production Budget": 1000000,'
    ' "Release Date": "Oct 09 1998", "MPAA Rating": "R",'
    ' "Running Time min": null, "Distributor": "Trimark",'
    ' "Source": "Original Screenplay", "Major Genre": "Drama",'
    ' "Creative Type": "Contemporary Fiction", "Director": null,'
    ' "Rotten Tomatoes Rating": 62, "IMDB Rating": 3.4, "IMDB Votes": 165}]'
)
GOLDENS.append(
    (
        "vega_datasets_movies",
        _VEGA,
        Shape.ROW_ARRAY,
        "struct<Creative Type: string, Director: null, Distributor: string,"
        " IMDB Rating: double, IMDB Votes: int32, MPAA Rating: string,"
        " Major Genre: string, Production Budget: int32,"
        " Release Date: string, Rotten Tomatoes Rating: int32,"
        " Running Time min: null, Source: string, Title: string,"
        " US DVD Sales: null, US Gross: int32, Worldwide Gross: int32>",
    )
)


@pytest.mark.parametrize(
    "name,text,shape,type_str", GOLDENS, ids=[g[0] for g in GOLDENS]
)
def test_json_analyzer_golden(name, text, shape, type_str):
    table = analyze_json(text)
    assert table.shape == shape, name
    assert table.type.arrow_string() == type_str, name


def test_unrecognized_shapes():
    assert analyze_json("42").shape == Shape.UNRECOGNIZED
    assert analyze_json('"x"').shape == Shape.UNRECOGNIZED
    assert analyze_json('{"a": 1}').shape == Shape.UNRECOGNIZED
    assert analyze_json("not json").shape == Shape.UNRECOGNIZED
