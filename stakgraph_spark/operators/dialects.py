"""Dialect packs — the Stack-trait hook surface as DATA.

The reference's extensibility unit is the `Stack` trait
(ast/src/lang/queries/mod.rs:51-303): ~50 overridable hooks — query
finders, `classify_test` (mod.rs:183), `handler_finder`
(mod.rs:208-223), request-template normalization (which of the
backend rewrites apply, linker.rs:195-230) — each overridden per
language in ast/src/lang/queries/*.rs. Porting that as Python
subclasses would reproduce its ~8k-LoC shape; this engine instead
makes a "language" a PACK OF DATA, interpreted by fixed operators:

  rules           extraction regexes (the round-2 rule-pack shape,
                  executed by extract.extract_mentions_rulepack)
  request_styles  which named backend template-var rewrites the
                  dialect's framework writes (functions/paths.py
                  BACKEND_RULES_NAMED; the per-language
                  normalize override)
  test_classes    ordered (regex, node_type) rules classifying a
                  test by its name + a default (the classify_test
                  override: Rust classifies by attribute macros, Go
                  by filename suffix, etc.)
  handler_pick    'first' | 'last' referencing turn per endpoint
                  (the handler_finder override: some frameworks
                  register the first matching route, some the last)
  file_filters    the should_not_include predicate stack
                  (repo.rs:477-526) as data — allowlist / junk dirs /
                  binary exts / package-file force-include / own vs
                  other-language extensions / skip suffixes, rendered
                  by operators/files.py as one portable boolean
  lib_manifest    the lib_query hook (mod.rs:58-60 default None;
                  get_libs, lang/mod.rs:176-183): which manifest FILE
                  the dialect reads (is_lib_file, mod.rs:61-63) and a
                  (name, version) line regex — requirements.txt vs
                  package.json vs go.mod vs Gemfile formats. A pack
                  without the key extracts NO libraries (the trait's
                  None default -> Vec::new()). Optional richer shape
                  mirroring toml.rs's lib_query (queries/toml.rs:
                  26-50): `forms` is an ordered list of alternative
                  (name, version) line regexes (the reference query's
                  `[ (string) | (inline_table ... version ...) ]`
                  alternation), and `section` scopes matches to lines
                  under a specific `[header]` table (the query's
                  `(#eq? @section "dependencies")` guard) — the
                  nearest PRECEDING bracket-header line must equal
                  `want`; lines before any header are out of scope
  import_resolve  resolve_import_path / resolve_import_name as an
                  ordered op LIST from a fixed vocabulary (trait
                  defaults are identity, mod.rs:287-293; react.rs:
                  700-716 trims + strips './'·'/' prefixes + quotes;
                  java.rs:228-245 maps dotted names to paths and
                  takes the last dot segment as the name)
  clean_edges     the clean_graph hook (mod.rs:280 default no-op;
                  go.rs:301-303 prunes Class-OPERAND->Function) as a
                  declarative (src_type, edge_type, tgt_type) prune
                  list applied to the finished edge set
  assoc_name      convert_association_to_name (mod.rs:284-286
                  default identity; ruby.rs:554-557 singularize +
                  PascalCase): ordered suffix singularization rules
                  as data + an optional pascal step
  component       is_component (mod.rs:65-70 default false;
                  react.rs:170-175 first-char-uppercase): the
                  function-name → component predicate as a named
                  style from a fixed vocabulary
  endpoint_verb   add_endpoint_verb (mod.rs:184 no-op default;
                  rust.rs:301-330 call-text contains tiers,
                  typescript.rs:186-200 exact call match,
                  python.rs:220-257 handler-name prefix/eq tiers +
                  GET fallback): ordered (source, pattern, verb)
                  rules — different packs consult different COLUMNS
                  of the same planted registration rows
  test_file       is_test_file (mod.rs:180 default false; go.rs:285
                  '_test.go', ruby.rs:253 '_spec.rb', react.rs:852
                  '__tests__' segment + suffix family): contains /
                  suffix lists as data
  dm_path_filter  data_model_path_filter (mod.rs:116 default None;
                  ruby.rs:218 'db/schema.rb', kotlin.rs:235
                  'app/models', swift.rs:174 'CoreData'): the
                  substring a Datamodel's file must carry
  data_model_name data_model_name (mod.rs:129 default identity;
                  ruby.rs:187 pluralize + lowercase): ordered
                  pluralization suffix rules + a lowercase step
  e2e_test_id     e2e_test_id_finder_string (mod.rs:202 default
                  None; ruby.rs:256 'get_by_test_id'): the finder
                  call whose quoted argument is the test id
  router_file     is_router_file (mod.rs:239 default false;
                  react.rs:599-604 NOT-contains '__tests__'):
                  not-contains segment list
  ep_path_filter  endpoint_path_filter (mod.rs:171-173 default None;
                  ruby.rs:153-155 'routes.rb'): the substring an
                  endpoint's file must carry
  update_endpoint update_endpoint (mod.rs:185 no-op default) as a
                  named STYLE from a fixed vocabulary — verb_map
                  (java.rs:170-184 annotation->verb table, unknown
                  falls to GET, absent adds nothing), suffix_strip
                  (cpp.rs:278-296 strip '_METHOD', trim quotes,
                  uppercase; absent annotation -> ANY), name_is_verb
                  (react.rs:566-579 verb-named Next.js route handlers
                  renamed from the file via endpoint_name_from_file
                  react.rs:876-889, handler meta defaults GET)
  extra_page      use_extra_page_finder / is_extra_page
                  (mod.rs:266-271 default false; ruby.rs:503-515
                  '/views/' dir + template exts; react.rs:743-790
                  app-router page files minus ignore dirs;
                  angular.rs:242-247 bare ext list): suffix any-of +
                  contains all-of + not-contains none-of, as data
  dm_class_join   class_contains_datamodel (mod.rs:296-303;
                  ruby.rs:608-628 {singularized, pluralized} ×
                  {Controller, Blueprint} candidate class names):
                  suffix list + the pack's singular/plural rule
                  tables + a pascal step, joined against the planted
                  class dim
  component_template
                  the component-template finder family —
                  component_template_query (mod.rs:245-247 default
                  None; angular.rs:23-42 the @Component decorator
                  query), template_ext (mod.rs:263-265; angular.rs:
                  42-44), component_selector_to_template_map
                  (angular.rs:296-361: selector + templateUrl pulled
                  from component files, resolved against the file's
                  directory) and page_component_renders_finder
                  (angular.rs:364-420: a page RENDERS the component's
                  template when its text contains '<'+selector) — as
                  data: the component file suffix, the two decorator
                  keys, and the page extension
  identifier      identifier_query (mod.rs:95-97 default;
                  ruby.rs:184-186 constants with :: scope segments,
                  kotlin.rs:15-17 its own node shape): the pack's
                  class-identifier extraction rule over declaration
                  text
  parent_resolve  find_function_parent (mod.rs:132-141 default None)
                  as a named strategy: 'enclosing_range' (python.rs:
                  105-133 / ruby.rs:156-182 / kotlin.rs:139-160 walk
                  up to the INNERMOST class whose span contains the
                  function) or 'receiver_type' (go.rs:206-229: the
                  declared receiver looked up by name, no ranges)
  direct_class_calls
                  mod.rs:281-283 default false; ruby.rs:551-553 true;
                  consumed at format.rs:758-764: when a call's
                  operand names EXACTLY ONE known class, a
                  Class-level call edge is recorded (ambiguous or
                  unknown operands record nothing)
  filter_by_implements
                  mod.rs:199-201 default false; rust.rs:351-353 true;
                  consumed at format.rs:59-78: a class survives ONLY
                  when an implements match names it, carrying the
                  FIRST matching trait
  endpoint_group  endpoint_group_find (mod.rs:168-170 default None;
                  go.rs:190-201 chi Mount registrations, java.rs:
                  152-165 @RequestMapping class annotations) +
                  process_endpoint_groups (array_graph.rs:187-217:
                  the group's path is PREFIXED onto the names of the
                  endpoints its handler defines) — as data: one
                  two-capture regex (prefix, handler) over planted
                  registration rows, joined to the endpoints dim

  ep_parents      find_endpoint_parents (mod.rs:159-167 default
                  empty; ruby.rs:419-464 walks up enclosing
                  namespace/resources blocks, trim-quotes each
                  route name, outermost first, and the names prefix
                  the endpoint's path): as data — one single-capture
                  regex over the endpoint's planted enclosing text;
                  match order IS document order = outermost first,
                  '/'-joined onto the endpoint name. Different packs
                  recognize different block markers (railsish
                  namespace/resources vs expressish router.use
                  prefixes) on the same planted rows
  is_test         is_test (mod.rs:177-179 default false; go.rs:282
                  starts_with("Test") — so 'Tester' passes, the
                  reference's own trap; python.rs:317 'test_';
                  kotlin.rs:252 'test'; ruby.rs:250-252 DELEGATES to
                  is_test_file): a named style — name_prefix with a
                  case-sensitive prefix, or file_delegate reusing the
                  pack's own test_file data
  itest_edge      integration_test_edge_finder (mod.rs:231-238
                  default None; ruby.rs:487-499 the one override:
                  find_class(test.name) exact → a CALLS edge
                  Test→Class): a flag; the interpreter equi-joins the
                  planted integration-test names to the class dim
  dm_within       use_data_model_within_finder /
                  data_model_within_finder (mod.rs:119-128 default
                  false/empty; ruby.rs:221-249 the one override: the
                  functions in file {data_model_name(dm)}{suffix}
                  each get a Function-CONTAINS->DataModel edge,
                  CONTROLLER_FILE_SUFFIX ruby.rs:16): as data — the
                  file suffix; candidates compose the pack's own
                  data_model_name rules, matching the pipeline order
                  (names are inflected before the within pass)

  islib           is_lib_file (mod.rs:61-63 default: an absolute
                  path IS a library file; angular.rs:59-61 /
                  react.rs:89-91 node_modules only;
                  typescript.rs:37-43 the five-condition union): as
                  data — OR'd starts_with / contains / suffix lists
                  through the escaped-LIKE helper. Unlike the
                  boolean-false-default hooks this one ALWAYS has
                  behavior, so the arm renders for EVERY pack, packs
                  without the key getting the trait's
                  starts_with('/') default
  troperand       find_trait_operand (mod.rs:143-152 default None;
                  go.rs:228-246 the one override: LSP
                  GotoImplementations → find_trait(line, file) → an
                  OPERAND edge Trait→Function): a flag; the LSP
                  round-trip is a planted dim (gic — the same
                  stubbed-I/O treatment the lib-manifest lines get),
                  the BEHAVIOR — the (line, file) trait lookup and
                  the edge emission, nothing when the lookup misses —
                  is the equi-join
  xpfind          extra_page_finder (mod.rs:272-279 default None;
                  react.rs:817-851: pages-dir route files RENDERS the
                  file's default-export function, page-alone when
                  none; ruby.rs:516-550: view templates resolve
                  {parent_dir}_controller.rb first then the
                  strip-'_mailer'+'_mailer.rb' fallback, NOTHING when
                  no handler; angular.rs:253-294:
                  {base}.component.{html,css,scss,sass} pages pair to
                  class {Base}Component in {base}.component.ts — the
                  edge REVERSED, Class RENDERS Page, page-alone when
                  the class is missing): a named style per pack, each
                  composing the pack's OWN extra_page (is_extra_page)
                  data as its gate exactly as the pipeline does; the
                  default-export name is a planted dim column (in the
                  reference it comes from code parsing)
  pgname          the page-NAME rule completing the extra_page
                  family (react.rs:994-1029 app-dir parent /
                  pages-stem index collapsing / 'page' fallback;
                  builder/utils.rs:31-37 + angular.rs:270 last
                  segment): a named style, total over any path
  opconv          the operand-emission convention of the pack's
                  function_call_query (format.rs:750-765 reads ONLY
                  @OPERAND; what each grammar binds differs —
                  python.rs:133 / go.rs:140 / ruby.rs:137 /
                  java.rs:120 / rust.rs:190 / cpp.rs:173): per
                  receiver SHAPE, emit / anon / drop
  restpath        rails_routes.rs:125-230 generate_endpoint_path:
                  the RESTful action->suffix table, the no-action
                  verb fallback, collection/member/resource_member
                  item composition, and namespace / :singular_id
                  parent prefixes — all pack data over planted route
                  declarations; absent key = no generated paths (the
                  trait's explicit-path default)

Adding a dialect = adding a dict literal; zero engine code changes
(proved by tests/test_dialects.py::test_new_pack_needs_no_code).
Every interpreter renders dialect-portable SQL, so ONE pack
definition drives both the Spark engine and the DuckDB oracle — the
pack-parameterized differential gate (`kg_dialects`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.paths import normalize_backend_path_sql
from .extract import MENTION_RE, NUMSEG_RE, TESTREF_RE, TOOL_RE

# ---------------------------------------------------------------------------
# The shipped dialect packs (thirteen "languages" with genuinely
# different behavior on the same planted input — see DIALECT_CASES).
# ---------------------------------------------------------------------------

DIALECT_PACKS: dict[str, dict] = {
    # Flask/FastAPI-ish: <param> templates; test classes by prefix
    # convention; the first registered route handles.
    "flaskish": {
        "rules": [("mention", MENTION_RE, True)],
        "request_styles": ["angle", "brace_opt"],
        "test_classes": [
            ("^unit_", "UnitTest"),
            ("^int_", "IntegrationTest"),
            ("^e2e_", "E2etest"),
        ],
        "default_test_class": "UnitTest",
        "handler_pick": "first",
        "file_filters": {
            "junk_dirs": ["__pycache__", "node_modules", ".venv"],
            "binary_exts": [".png", ".pyc"],
            "package_files": ["requirements.txt"],
            "include_exts": [".py"],
            "exclude_package_files": ["package.json", "go.mod"],
            "exclude_exts": [".js", ".go"],
            "skip_file_ends": [".sh"],
        },
        "lib_manifest": {
            "file": "requirements.txt",
            "line_re": "^([A-Za-z0-9_.-]+)==([0-9][0-9A-Za-z.-]*)$",
        },
        # python.rs overrides neither resolve hook -> trait defaults
        # (identity, mod.rs:287-293); present to prove defaults flow
        "import_resolve": {"path_ops": [], "name_op": "identity"},
        # python.rs:220-257, reference-exact: a verb-named decorator
        # call wins first (:225-231 — the grammar constrains
        # @ENDPOINT_VERB to ^get|post|put|delete$, python.rs:153, so
        # the uppercased call IS the verb), then handler tiers over
        # the METHOD name (the tail after '.', :233-239,
        # case-sensitive) incl. the 'index' special case, with the
        # GET fallback (:249-255 — both the unmatched-handler else
        # and the no-handler arm say GET)
        "endpoint_verb": {
            "rules": [
                ("call_method_eq", "get", "GET"),
                ("call_method_eq", "post", "POST"),
                ("call_method_eq", "put", "PUT"),
                ("call_method_eq", "delete", "DELETE"),
                ("handler_method_prefix", "get_", "GET"),
                ("handler_method_eq", "index", "GET"),
                ("handler_method_prefix", "post_", "POST"),
                ("handler_method_prefix", "create_", "POST"),
                ("handler_method_prefix", "delete_", "DELETE"),
                ("handler_method_prefix", "remove_", "DELETE"),
                ("handler_method_prefix", "put_", "PUT"),
                ("handler_method_prefix", "update_", "PUT"),
            ],
            "default": "GET",
        },
        # the class_contains_datamodel join with Flask's own suffix
        # vocabulary (Blueprint) and NO inflection rules — identity
        # base vs railsish's singular/plural fan-out
        "dm_class_join": {"suffixes": ["Blueprint"]},
        # python.rs:105-133: walk up the tree to the innermost
        # enclosing class_definition — ranges, not receivers
        "parent_resolve": {"style": "enclosing_range"},
        # python.rs:317-319: name starts with 'test_' (substr, so the
        # underscore never wildcards)
        "is_test": {"style": "name_prefix", "prefix": "test_"},
        # python.rs:133-144: a method call captures a
        # SINGLE-identifier receiver only ((attribute object:
        # (identifier)) @OPERAND); dotted receivers and call-result
        # receivers do not match the query at all
        "call_operand": {"bare": "emit", "simple": "emit",
                         "dotted": "drop", "callres": "drop", "scoped": "drop"},
    },
    # Express/Rails-ish: :param and (param) templates; *_spec naming;
    # LAST registered route wins (Express later-middleware shadowing).
    "expressish": {
        "rules": [("tool", TOOL_RE, False)],
        "request_styles": ["colon", "paren"],
        "test_classes": [
            ("^e2e_", "E2etest"),
            ("spec", "IntegrationTest"),
        ],
        "default_test_class": "UnitTest",
        "handler_pick": "last",
        "file_filters": {
            # documents the reference's ordering quirk in the gate:
            # app.min.js carries the OWN extension .js, so the own-ext
            # include (step 5) beats the .min.js skip suffix (step 7)
            "junk_dirs": ["node_modules", "dist"],
            "binary_exts": [".png"],
            "package_files": ["package.json"],
            "include_exts": [".js", ".ts"],
            "exclude_package_files": ["requirements.txt", "go.mod"],
            "exclude_exts": [".py", ".go"],
            "skip_file_ends": [".min.js"],
        },
        "lib_manifest": {
            "file": "package.json",
            "line_re": '^"([A-Za-z0-9@/_.-]+)": "[~^]?([0-9][0-9A-Za-z.-]*)",?$',
        },
        # react.rs:700-716: trim, strip './' and '/' prefixes, strip
        # surrounding quotes; name untouched
        "import_resolve": {
            "path_ops": ["trim", "strip_rel_prefix", "strip_quotes"],
            "name_op": "identity",
        },
        # react.rs:170-175: a capitalized function is a component
        "component": {"style": "upper_initial"},
        # rust.rs:308-321 style: verbs from the CALL text ('.get(' …
        # contains tiers); no handler fallback — unmatched rows get
        # the empty verb (typescript.rs:193-199 leaves meta unset)
        "endpoint_verb": {
            "rules": [
                ("call_contains", ".get(", "GET"),
                ("call_contains", ".post(", "POST"),
                ("call_contains", ".put(", "PUT"),
                ("call_contains", ".delete(", "DELETE"),
            ],
            "default": "",
        },
        # react.rs:852-866 (subset): the __tests__ segment plus the
        # .test.ts / .spec.ts suffix family
        "test_file": {
            "contains": ["__tests__"],
            "suffixes": [".test.ts", ".spec.ts"],
        },
        # testing-library naming; ruby.rs:256 ships get_by_test_id —
        # the two packs' finders must not substring-shadow each other
        "e2e_test_id": "getByTestId",
        # react.rs:599-604: everything outside __tests__ can route
        "router_file": {"not_contains": ["__tests__"]},
        # express nested routers: router.use('/prefix', subrouter)
        # registrations play the enclosing-block role — the SAME
        # planted rows railsish reads for namespace/resources
        "ep_parents": {"re": "use[(][\"']/([a-z0-9_]+)[\"']"},
        # typescript.rs:37-43: the five-condition union — this pack
        # carries the widest is_lib_file of the fleet
        "lib_file": {
            "starts_with": ["/usr"],
            "contains": ["node_modules/", "/lib/", ".nvm/"],
            "suffixes": [".d.ts"],
        },
        # react.rs:518-543: member_expression's object is a bare
        # identifier — deeper chains fall out of the query entirely
        "call_operand": {"bare": "emit", "simple": "emit",
                         "dotted": "drop", "callres": "drop", "scoped": "drop"},
        # react.rs:994-1029 page_name: app-router pages take the
        # parent DIRECTORY name, pages-router pages the stem with
        # index collapsing, anything else the 'page' fallback
        "page_name": "react_router",
    },
    # Next.js/Go-ish: [param] / [...catchall] / {param} templates;
    # anything not explicitly e2e is an integration test.
    "nextish": {
        "rules": [("testref", TESTREF_RE, False)],
        "request_styles": ["catchall", "bracket", "brace"],
        "test_classes": [("^e2e_", "E2etest")],
        "default_test_class": "IntegrationTest",
        "handler_pick": "first",
        "file_filters": {
            "junk_dirs": [".next", "node_modules"],
            "binary_exts": [".png"],
            "package_files": ["package.json"],
            "include_exts": [".tsx", ".ts"],
            "exclude_package_files": ["requirements.txt", "go.mod"],
            # .js claimed by ANOTHER pack here, so app.min.js is
            # excluded — the same planted file flips per dialect
            "exclude_exts": [".py", ".go", ".js"],
            "skip_file_ends": [".stories.tsx"],
        },
        # same manifest FILE as expressish, different line rule (only
        # tilde-pinned deps) — the same planted row set answers
        # differently per pack
        "lib_manifest": {
            "file": "package.json",
            "line_re": '^"([A-Za-z0-9@/_.-]+)": "~([0-9][0-9A-Za-z.-]*)",?$',
        },
        "import_resolve": {"path_ops": ["strip_rel_prefix"], "name_op": "identity"},
        # a second clean_graph override with a DIFFERENT prune list,
        # so the hook is provably per-pack data
        "clean_edges": [("Page", "RENDERS", "Function")],
        "component": {"style": "upper_initial"},
        # a DIFFERENT suffix family than expressish (no __tests__
        # segment, .tsx tests) — the same planted file flips per pack
        "test_file": {"suffixes": [".test.tsx", ".spec.ts"]},
        # kotlin.rs:235-style directory filter — a DIFFERENT substring
        # than railsish, so the same planted Datamodel rows survive
        # differently per pack
        "dm_path_filter": "models/",
        # stricter than expressish: test files can't route either
        "router_file": {"not_contains": ["__tests__", ".test."]},
        # react.rs:566-579: a verb-named App-Router handler is renamed
        # to its route (endpoint_name_from_file, react.rs:876-889);
        # the handler meta falls back to GET
        "update_endpoint": {"style": "name_is_verb", "default_handler": "GET"},
        # react.rs:743-790 (app-router arm): page files under /app/,
        # minus the ignore dirs
        "extra_page": {
            "contains": ["/app/"],
            "suffixes": ["/page.tsx", "/page.jsx"],
            "not_contains": ["/node_modules/", "/__tests__/"],
        },
        # react.rs:89-91: node_modules only
        "lib_file": {"contains": ["node_modules/"]},
        # react.rs:817-851: the page RENDERS its file's
        # default-export function, page-alone when none exports
        "xpage_style": "default_export",
        # react.rs:994-1029 (shared with expressish — the reference
        # ships ONE react.rs for both router generations)
        "page_name": "react_router",
    },
    # Go/chi-ish: {param} templates only; table-driven *_test naming;
    # tool extraction DEDUPED per turn (the distinct flag is pack
    # data — expressish keeps every occurrence, goish one per turn).
    "goish": {
        "rules": [("tool", TOOL_RE, True)],
        "request_styles": ["brace"],
        "test_classes": [("_test$", "UnitTest"), ("^e2e_", "E2etest")],
        "default_test_class": "IntegrationTest",
        "handler_pick": "first",
        "file_filters": {
            "junk_dirs": ["vendor"],
            "binary_exts": [".png"],
            "package_files": ["go.mod"],
            "include_exts": [".go"],
            "exclude_package_files": ["package.json", "requirements.txt"],
            "exclude_exts": [".py", ".js"],
            "skip_file_ends": ["_gen.go"],
        },
        "lib_manifest": {
            "file": "go.mod",
            "line_re": "^require ([a-z0-9./_-]+) v([0-9][0-9A-Za-z.+-]*)$",
        },
        # quote-stripping path resolve; dotted-name tail as the
        # import name (the java.rs:228-235 / kotlin.rs:256-263 hook)
        "import_resolve": {
            "path_ops": ["strip_quotes"],
            "name_op": "last_dot_segment",
        },
        # go.rs:301-303: the one clean_graph override in the
        # reference — prune Class-OPERAND->Function
        "clean_edges": [("Class", "OPERAND", "Function")],
        # go.rs:285-287; NO component / endpoint_verb keys — go.rs
        # overrides neither (trait defaults: false / no-op), so the
        # surface emits nothing for those hooks
        "test_file": {"suffixes": ["_test.go"]},
        # go.rs:206-229: methods carry an explicit receiver type; the
        # parent is that class looked up BY NAME (no range walk) —
        # the same planted functions resolve differently than
        # flaskish's enclosing_range
        "parent_resolve": {"style": "receiver_type"},
        # go.rs:190-201: chi router Mount("/prefix", Handlers) —
        # captures (prefix, handler fn)
        "endpoint_group": {"re": 'Mount[(]"([^"]+)", ([A-Za-z0-9_]+)[)]'},
        # go.rs:282-284: case-sensitive starts_with("Test") — takes
        # 'Tester' too, deliberately
        "is_test": {"style": "name_prefix", "prefix": "Test"},
        # go.rs:228-246: the one find_trait_operand override — the
        # GotoImplementations answer (a planted dim) looked up in the
        # trait dim by (line, file), an OPERAND edge on a hit
        "trait_operand": True,
        # go.rs:140-157: a selector operand may itself be a
        # selector_expression (captured WHOLE — 'a.b'), while a
        # call-expression receiver matches but is NOT bound: the row
        # emits with no operand
        "call_operand": {"bare": "emit", "simple": "emit",
                         "dotted": "emit", "callres": "anon", "scoped": "drop"},
        # the dm-within variant beyond railsish's shipped default —
        # the finder is trait data (mod.rs:122-128), so a pack may
        # name the containing file any way it likes: snake_cased
        # model name + '_store.go'
        "dm_within": {"file_suffix": "_store.go", "name_op": "snake"},
    },
    # Rails-ish: :param only; rspec naming; mention extraction NOT
    # deduped (flaskish dedups — same rule, different consumer
    # semantics); file stack is an only_include allowlist — the
    # reference's step-1 short-circuit (repo.rs:481-483) where
    # nothing else in the stack is consulted.
    "railsish": {
        "rules": [("mention", MENTION_RE, False)],
        "request_styles": ["colon"],
        "test_classes": [("spec", "UnitTest"), ("^e2e_", "E2etest")],
        "default_test_class": "IntegrationTest",
        "handler_pick": "last",
        "file_filters": {
            "only_include_files": ["src/app.py", "docs/README.md"],
            # ignored by the short-circuit — present to prove it
            "junk_dirs": ["src", "docs"],
        },
        "lib_manifest": {
            "file": "Gemfile",
            "line_re": "^gem '([a-z0-9_-]+)', '([0-9][0-9.]*)'$",
        },
        # NO import_resolve key: the surface emits nothing for the
        # hook (distinct from flaskish's explicit identity ops —
        # mirrors a language whose imports_query is None)
        # ruby.rs:554-557 convert_association_to_name: singularize
        # (ordered suffix rules as data; 'us' passes through before
        # the bare-'s' strip) then PascalCase
        "assoc_name": {
            "singular_rules": [("ies", "y"), ("us", "us"), ("s", "")],
            "pascal": True,
        },
        # ruby.rs:253-255
        "test_file": {"suffixes": ["_spec.rb"]},
        # ruby.rs:218-220
        "dm_path_filter": "db/schema.rb",
        # ruby.rs:187-189 inflection::pluralize + to_lowercase, the
        # pluralization table as ordered first-match suffix rules
        # ('' = the catch-all append)
        "data_model_name": {
            "plural_rules": [("y", "ies"), ("us", "uses"), ("", "s")],
            "lower": True,
        },
        # ruby.rs:256-258
        "e2e_test_id": "get_by_test_id",
        # ruby.rs:153-155: endpoints live in routes.rb only
        "ep_path_filter": "routes.rb",
        # ruby.rs:503-515: a page is a template under the views dir
        "extra_page": {
            "contains": ["/views/"],
            "suffixes": [".erb", ".haml", ".html"],
        },
        # ruby.rs:608-628: candidate classes are {singular, plural} ×
        # {Controller, Blueprint}, PascalCased — the inflection tables
        # are the same data the assoc/dm-name hooks carry
        "dm_class_join": {
            "suffixes": ["Controller", "Blueprint"],
            "singular_rules": [("ies", "y"), ("us", "us"), ("s", "")],
            "plural_rules": [("y", "ies"), ("us", "uses"), ("", "s")],
            "pascal": True,
        },
        # ruby.rs:184-186: ruby constants may carry :: scope segments
        # — the identifier rule captures the full scoped name where
        # javaish's stops at the first segment
        "identifier": {"re": "class ([A-Z][A-Za-z0-9_:]*)"},
        # ruby.rs:551-553 — the one reference override; a call whose
        # operand names exactly one known class records a Class-level
        # call edge (format.rs:758-764)
        "direct_class_calls": True,
        # ruby.rs:419-464: enclosing namespace/resources block names
        # (the capture's character class IS the trim_quotes/colon
        # step) prefix the endpoint path, outermost first
        "ep_parents": {"re": "(?:namespace|resources) [\"':]([a-z_]+)"},
        # ruby.rs:250-252: is_test delegates to is_test_file
        "is_test": {"style": "file_delegate"},
        # ruby.rs:487-499: integration test name → class, exact
        "itest_edge": True,
        # ruby.rs:221-249 + ruby.rs:16 CONTROLLER_FILE_SUFFIX
        "dm_within": {"file_suffix": "_controller.rb"},
        # ruby.rs:516-550: a view template's handler is the function
        # named after the file stem, looked up in
        # {parent_dir}_controller.rb first, then the
        # strip-'_mailer'+'_mailer.rb' fallback; NO page without one
        "xpage_style": "controller_pair",
        # ruby.rs:137-149: a receiver is REQUIRED (identifier,
        # constant or call — all bound to @OPERAND), so bare calls
        # never match and a call-result receiver is captured as text
        "call_operand": {"bare": "drop", "simple": "emit",
                         "dotted": "emit", "callres": "emit", "scoped": "drop"},
        # builder/utils.rs:31-37 get_page_name: the last path
        # segment, extension kept
        "page_name": "last_segment",
        # rails_routes.rs:125-230 generate_endpoint_path: the Rails
        # RESTful route-path generator as data — the standard
        # action->suffix table (rails_routes.rs:200-214), the
        # no-action verb fallback (:215-230: PUT/PATCH/DELETE take
        # :id; GET only when the endpoint is NAMED show/edit), and
        # the collection/member/resource_member item composition
        # (:170-191) with namespace / :singular_id parent prefixes
        # (:156-168). The reference singularizes via a full English
        # inflection library (inflection_rs); the pack carries the
        # rule as a regex pair (planted names are regular plurals).
        "restful_routes": {
            "actions": [
                ("index", ""), ("new", "/new"), ("create", ""),
                ("show", "/:id"), ("edit", "/:id/edit"),
                ("update", "/:id"), ("destroy", "/:id"),
            ],
            "verb_id": ["PUT", "PATCH", "DELETE"],
            "get_names": [("show", "/:id"), ("edit", "/:id/edit")],
            "singular": ["s$", ""],
        },
    },
    # Spring/JVM-ish: {param} templates; FooTest/FooIT class naming;
    # the java.rs dotted-import rewrites (the one pack shipping the
    # dots_to_path_drop_last op); gradle-style manifest lines.
    "javaish": {
        "rules": [("testref", TESTREF_RE, True)],
        "request_styles": ["brace"],
        "test_classes": [("Test$", "UnitTest"), ("IT$", "IntegrationTest")],
        "default_test_class": "UnitTest",
        "handler_pick": "first",
        "file_filters": {
            "junk_dirs": ["target", "build"],
            "binary_exts": [".class", ".png", ".pyc"],
            "package_files": ["build.gradle"],
            "include_exts": [".java"],
            "exclude_package_files": ["package.json", "go.mod", "requirements.txt"],
            "exclude_exts": [".py", ".js", ".go"],
            "skip_file_ends": ["Generated.java"],
        },
        "lib_manifest": {
            "file": "build.gradle",
            "line_re": '^implementation "([A-Za-z0-9.:_-]+):([0-9][0-9A-Za-z.-]*)"$',
        },
        # java.rs:228-245: dotted names become paths (last segment
        # dropped); the import NAME is the tail dot segment
        "import_resolve": {
            "path_ops": ["dots_to_path_drop_last"],
            "name_op": "last_dot_segment",
        },
        "test_file": {"suffixes": ["Test.java", "IT.java"]},
        # Spring-style: endpoints live in *Controller classes
        "ep_path_filter": "Controller",
        # java.rs:170-188: @GetMapping-family annotations map to
        # verbs exactly, unknown annotations fall to GET, and an
        # un-annotated endpoint ALSO defaults to GET (the trailing
        # add_verb("GET") at :186 — the hook never leaves a Java
        # endpoint verbless)
        "update_endpoint": {
            "style": "verb_map",
            "table": [
                ("GETMAPPING", "GET"),
                ("POSTMAPPING", "POST"),
                ("PUTMAPPING", "PUT"),
                ("DELETEMAPPING", "DELETE"),
                ("PATCHMAPPING", "PATCH"),
            ],
            "unknown": "GET",
            "absent": "GET",
        },
        # JVM identifiers have no scope-resolution segments: the rule
        # stops where railsish's :: continues, so the same planted
        # declaration yields a different class name per pack
        "identifier": {"re": "class ([A-Za-z0-9_]+)"},
        # java.rs:152-165: class-level @RequestMapping — the same
        # planted registrations answer differently than goish's Mount
        "endpoint_group": {
            "re": 'RequestMapping[(]"([^"]+)"[)] class ([A-Za-z0-9_]+)',
        },
        # java.rs:120-134: object: (_)? — ANY receiver node is
        # captured when present (wildcard, not identifier), and bare
        # invocations match too: the widest convention of the fleet
        "call_operand": {"bare": "emit", "simple": "emit",
                         "dotted": "emit", "callres": "emit", "scoped": "drop"},
    },
    # Drogon/Crow-ish C++: {param} templates; TEST_-macro naming;
    # the cpp.rs update_endpoint style (strip _METHOD, trim quotes,
    # uppercase, ANY when un-annotated); vcpkg manifest lines.
    "cppish": {
        "rules": [("mention", MENTION_RE, True)],
        "request_styles": ["brace"],
        "test_classes": [("^TEST_", "UnitTest"), ("^e2e_", "E2etest")],
        "default_test_class": "IntegrationTest",
        "handler_pick": "first",
        # cpp.rs:278-296
        "update_endpoint": {"style": "suffix_strip", "suffix": "_METHOD"},
        "file_filters": {
            "junk_dirs": ["build", "cmake-build-debug"],
            "binary_exts": [".o", ".png"],
            "package_files": ["vcpkg.json"],
            "include_exts": [".cpp", ".h"],
            "exclude_package_files": ["package.json", "go.mod", "requirements.txt"],
            "exclude_exts": [".py", ".js", ".go", ".java"],
            "skip_file_ends": [".generated.cpp"],
        },
        "lib_manifest": {
            "file": "vcpkg.json",
            "line_re": '^"([a-z][a-z0-9-]*)": "([0-9][0-9.]*)",?$',
        },
        # quoted #include-style specs lose their quotes; names as-is
        "import_resolve": {"path_ops": ["strip_quotes"], "name_op": "identity"},
        # cpp.rs:173-197: field argument is a bare identifier; a
        # namespace-qualified call matches with the scope bound to a
        # capture format_function_call never reads (@namespace, not
        # @OPERAND) — the row emits nameless
        "call_operand": {"bare": "emit", "simple": "emit",
                         "dotted": "drop", "callres": "drop", "scoped": "anon"},
    },
    # Angular-ish: the component-template finder family as data —
    # @Component decorator keys, .component.ts files, .html pages
    # (angular.rs:23-44, 296-420, wired by core.rs:671-718).
    "angularish": {
        "rules": [("mention", MENTION_RE, True)],
        "request_styles": ["colon"],
        "test_classes": [("^e2e_", "E2etest"), ("spec$", "UnitTest")],
        "default_test_class": "IntegrationTest",
        "handler_pick": "first",
        # angular lib_query (angular.rs:45-57) reads package.json like
        # expressish/nextish, but this pack's line rule takes SCOPED
        # (@org/name) dependencies only — a third answer from the
        # same planted manifest rows
        "lib_manifest": {
            "file": "package.json",
            "line_re": '^"(@[a-z0-9/._-]+)": "[~^]?([0-9][0-9A-Za-z.-]*)",?$',
        },
        # angular.rs:223-241: trim, strip './' and '/', strip quotes
        "import_resolve": {
            "path_ops": ["trim", "strip_rel_prefix", "strip_quotes"],
            "name_op": "identity",
        },
        # the new hook family: which files declare components, which
        # decorator keys carry the selector and template path, which
        # files are scannable pages
        "component_template": {
            "component_suffix": ".component.ts",
            "selector_key": "selector",
            "template_key": "templateUrl",
            "page_ext": ".html",
        },
        # components are exported classes; the rule matches ONLY
        # export-prefixed declarations, unlike railsish/javaish
        "identifier": {"re": "export class ([A-Za-z0-9_]+)"},
        # angular.rs:242-247: a bare extension list, no dir gate
        "extra_page": {"suffixes": [".html", ".css", ".scss", ".sass"]},
        # angular.rs:59-61: node_modules only (react's rule, a
        # narrower answer than expressish's five-condition union)
        "lib_file": {"contains": ["node_modules/"]},
        # angular.rs:253-294: {base}.component.{html,css,scss,sass}
        # pages pair to class {Base}Component in {base}.component.ts
        # — the edge REVERSED (Class RENDERS Page), page-alone on a
        # miss
        "xpage_style": "component_pair",
        # angular.rs:270: the page node is named by the file's
        # basename (NodeData::name_file), extension kept
        "page_name": "last_segment",
    },
    # Actix/axum-ish Rust: {param} templates; filter_by_implements
    # (rust.rs:351-353 — the one reference override) prunes classes
    # without an implements match; Cargo.toml manifest lines; testref
    # extraction NOT deduped (javaish dedups the same rule).
    "rustish": {
        "rules": [("testref", TESTREF_RE, False)],
        "request_styles": ["brace"],
        "test_classes": [
            ("^unit_", "UnitTest"),
            ("^int_", "IntegrationTest"),
            ("^e2e_", "E2etest"),
        ],
        "default_test_class": "UnitTest",
        "handler_pick": "first",
        # rust.rs:301-335 add_endpoint_verb, reference-exact: call
        # tiers use the DOTLESS 'get(' substring (":308 contains
        # '.get(' || contains 'get(' — the dotted form is subsumed,
        # so bare get(...) registrations match too), then handler
        # prefix tiers in rust's put-BEFORE-delete order, and NO
        # fallthrough verb (:322-334 has no final else — contrast
        # flaskish's GET default and kotlinish's default)
        "endpoint_verb": {
            "rules": [
                ("call_contains", "get(", "GET"),
                ("call_contains", "post(", "POST"),
                ("call_contains", "put(", "PUT"),
                ("call_contains", "delete(", "DELETE"),
                ("handler_prefix", "get_", "GET"),
                ("handler_prefix", "post_", "POST"),
                ("handler_prefix", "create_", "POST"),
                ("handler_prefix", "put_", "PUT"),
                ("handler_prefix", "update_", "PUT"),
                ("handler_prefix", "delete_", "DELETE"),
                ("handler_prefix", "remove_", "DELETE"),
            ],
            "default": "",
        },
        # toml.rs lib_query fidelity (queries/toml.rs:26-50): the
        # reference parses Cargo.toml with a DEDICATED Toml stack
        # whose query (a) scopes to the [dependencies] table
        # (#eq? @section "dependencies", :28) and (b) accepts BOTH
        # version forms — pkg = "1.0.0" (string, :33) and
        # pkg = { version = "1.0.0", ... } (inline_table, :36-41).
        # A dep before any header or under [dev-dependencies]
        # extracts nothing.
        "lib_manifest": {
            "file": "Cargo.toml",
            "forms": [
                '^([a-z0-9_-]+) = "([0-9][0-9.]*)"$',
                '^([a-z0-9_-]+) = [{] version = "([0-9][0-9.]*)".*[}]$',
            ],
            "section": {"want": "dependencies"},
        },
        "filter_by_implements": True,
        # rust.rs:190-211: field_expression binds ONLY the field name
        # (every method call emits operand-less) while
        # scoped_identifier binds the module path — the reverse of
        # go's convention on the same planted call sites
        "call_operand": {"bare": "emit", "simple": "anon",
                         "dotted": "anon", "callres": "anon", "scoped": "emit"},
    },
    # Ktor/JVM-Kotlin-ish (kotlin.rs): {param} templates; the
    # classify_test TRAIT DEFAULT (no override — every test is a
    # UnitTest, mod.rs:183, expressed as an EMPTY rule list); verbs
    # from the registration call's method identifier with a GET
    # default (kotlin.rs:207-224); app/models dm filter
    # (kotlin.rs:235-237); dotted imports dropping the last TWO
    # segments (kotlin.rs:266-274) with the tail-segment name
    # (kotlin.rs:256-263); 'test'-prefixed (no underscore) test names
    # (kotlin.rs:252-254); enclosing-range parents
    # (kotlin.rs:139-160); gradle-kts implementation("g:a:v") call
    # lines as the lib manifest (the kotlin.rs:31-38 call_expression
    # lib_query pointed at the build script).
    "kotlinish": {
        "rules": [("mention", MENTION_RE, True)],
        "request_styles": ["brace"],
        "test_classes": [],
        "default_test_class": "UnitTest",
        "handler_pick": "first",
        "lib_manifest": {
            "file": "build.gradle.kts",
            "line_re": '^implementation[(]"([A-Za-z0-9.:_-]+):([0-9][0-9A-Za-z.-]*)"[)]$',
        },
        "import_resolve": {
            "path_ops": ["dots_to_path_drop_last2"],
            "name_op": "last_dot_segment",
        },
        "endpoint_verb": {
            "rules": [
                ("call_method_eq", "get", "GET"),
                ("call_method_eq", "post", "POST"),
                ("call_method_eq", "put", "PUT"),
                ("call_method_eq", "delete", "DELETE"),
            ],
            "default": "GET",
        },
        "dm_path_filter": "app/models",
        "is_test": {"style": "name_prefix", "prefix": "test"},
        "parent_resolve": {"style": "enclosing_range"},
    },
    # URLSession/CoreData-Swift-ish (swift.rs): the classify_test
    # trait default; verbs from BODY-substring tiers with swift's
    # exact tier order (method: "GET" / bodyParams: nil both mean
    # GET and the first tier wins; NO fallthrough verb,
    # swift.rs:128-143); CoreData dm filter (swift.rs:174-176);
    # 'test'-prefixed test names (swift.rs:192-194);
    # enclosing-range parents (the class_declaration walk-up,
    # swift.rs:86-117).
    "swiftish": {
        "rules": [("mention", MENTION_RE, True)],
        "request_styles": ["brace"],
        "test_classes": [],
        "default_test_class": "UnitTest",
        "handler_pick": "first",
        "endpoint_verb": {
            "rules": [
                ("body_contains", 'method: "GET"', "GET"),
                ("body_contains", "bodyParams: nil", "GET"),
                ("body_contains", 'method: "POST"', "POST"),
                ("body_contains", 'method: "PUT"', "PUT"),
                ("body_contains", 'method: "DELETE"', "DELETE"),
            ],
            "default": "",
        },
        "dm_path_filter": "CoreData",
        "is_test": {"style": "name_prefix", "prefix": "test"},
        "parent_resolve": {"style": "enclosing_range"},
    },
    # Svelte-ish (svelte.rs): a frontend-only Stack, deliberately
    # SPARSE — no lib manifest, no endpoint hooks, classify_test is
    # the trait default (empty rule list), and the pack declares NO
    # request-template vocabulary of its own (request_finder only
    # matches the fetch/verb call, svelte.rs:112-121 — planted
    # templates pass through the slash-normalizer verbatim).
    # Identifiers are markup TAGS, not class declarations
    # ((tag_name), svelte.rs:134-136): the tag rule fires on the
    # planted markup line every class-declaration pack ignores, and
    # emits nothing for their declaration lines. is_test is
    # starts_with("test") with NO underscore (svelte.rs:151-153);
    # parents are the enclosing class_declaration walk-up
    # (svelte.rs:88-95).
    "svelteish": {
        "rules": [("mention", MENTION_RE, True)],
        "request_styles": [],
        "test_classes": [],
        "default_test_class": "UnitTest",
        "handler_pick": "first",
        "identifier": {"re": "<([A-Za-z][A-Za-z0-9]*)"},
        "is_test": {"style": "name_prefix", "prefix": "test"},
        "parent_resolve": {"style": "enclosing_range"},
    },
    # Plain-TypeScript-backend-ish (queries/typescript.rs — the
    # reference ships this as a SEPARATE Stack from react.rs): the
    # .js->.ts import retarget, a '*'-version-accepting package.json
    # rule, verb meta left UNSET on unmatched registrations, and
    # member-call receivers bound to @CLASS_NAME rather than @OPERAND.
    "typescriptish": {
        "rules": [("testref", TESTREF_RE, True)],
        "request_styles": ["colon"],
        "test_classes": [],
        "default_test_class": "UnitTest",
        "handler_pick": "first",
        # typescript.rs:23-35: package.json pairs under dependencies
        # AND devDependencies; the version predicate is
        # '^[\^~]?\d|\*' — the '*' alternation is this pack's
        # distinguisher (expressish's broad rule requires a digit, so
        # a star-pinned dep is typescriptish-only)
        "lib_manifest": {
            "file": "package.json",
            "line_re": '^"([A-Za-z0-9@/_.-]+)": "([*]|[~^]?[0-9][0-9A-Za-z.-]*)",?$',
        },
        # typescript.rs:37-43: the five-condition union (shared with
        # expressish, whose lib_file cites the same lines)
        "lib_file": {
            "starts_with": ["/usr"],
            "contains": ["node_modules/", "/lib/", ".nvm/"],
            "suffixes": [".d.ts"],
        },
        # typescript.rs:292-314: trim, strip './' / '/', strip one
        # surrounding quote pair, then retarget a '.js' path to its
        # '.ts' compilation source (the '.\\' arm is omitted like
        # react's — windows separators never reach the corpus)
        "import_resolve": {
            "path_ops": ["trim", "strip_rel_prefix", "strip_quotes",
                         "ext_js_to_ts"],
            "name_op": "identity",
        },
        # typescript.rs:186-213 ('copied from react'): the
        # registration call's method identifier maps exactly to the
        # verb; anything else leaves the meta UNSET ('' — contrast
        # kotlinish's same four rules with the GET default,
        # kotlin.rs:219-221)
        "endpoint_verb": {
            "rules": [
                ("call_method_eq", "get", "GET"),
                ("call_method_eq", "post", "POST"),
                ("call_method_eq", "put", "PUT"),
                ("call_method_eq", "delete", "DELETE"),
            ],
            "default": "",
        },
        # typescript.rs:152-170: the member-call arm binds its
        # (identifier) object to @CLASS_NAME, not @OPERAND — and
        # format.rs:750-765 reads ONLY @OPERAND, so a simple receiver
        # matches the query but emits no operand; deeper chains fall
        # out of the (identifier)-object pattern entirely
        "call_operand": {"bare": "emit", "simple": "anon",
                         "dotted": "drop", "callres": "drop", "scoped": "drop"},
    },
}

# ---------------------------------------------------------------------------
# Planted dims: one row set every pack interprets differently.
# (case_id, raw_path, test_name, text) — raw_path mixes template
# styles so each pack normalizes a different subset; test_name hits
# different classifier rules per pack; text carries one hit for each
# pack's extraction rule.
# ---------------------------------------------------------------------------

DIALECT_CASES: list[tuple[int, str, str, str]] = [
    (0, "/api/items/<id>", "unit_core", "ping @AuthCore now"),
    (1, "/api/items/:id", "int_billing", 'tool:fetch(q="x")'),
    (2, "/api/items/{id}", "e2e_checkout", "see ref test_7 here"),
    (3, "/api/(v2)/users", "order_spec", "@AuthCore and @AuthCore"),
    (4, "/api/docs/[...slug]", "helpers", "tool:calc(1) tool:calc(2)"),
    (5, "/api/u/[uid]/posts/", "e2e_spec", "ref test_7 ref test_9"),
    (6, "/api/v1/ping", "CartIT", "plain text"),
    # the SAME ref twice in one turn: rustish (no dedup) keeps both,
    # javaish (dedup) keeps one; TEST_ hits cppish's macro classifier
    (7, "/api/x/<id>/{z}", "TEST_parse", "ref test_3 ref test_3"),
]

# Planted file paths: one set every pack's should_not_include stack
# answers differently (own-ext vs other-ext flips, junk dirs, package
# manifests, the own-ext-beats-skip-suffix ordering quirk, and the
# railsish allowlist short-circuit).
FILE_CASES: list[tuple[int, str]] = [
    (0, "src/app.py"),
    (1, "node_modules/leftpad/index.js"),
    (2, "assets/logo.png"),
    (3, "web/app.min.js"),
    (4, "requirements.txt"),
    (5, "package.json"),
    (6, "cmd/server/main.go"),
    (7, "scripts/helper.sh"),
    (8, "src/__pycache__/app.cpython.pyc"),
    (9, "docs/README.md"),
]

# (ep, conv_id, turn_idx): several referencing turns per endpoint so
# 'first' and 'last' handler picks genuinely differ.
HANDLER_CASES: list[tuple[str, str, int]] = [
    ("GET /api/a", "conv_x", 3),
    ("GET /api/a", "conv_x", 7),
    ("GET /api/a", "conv_y", 1),
    ("POST /api/b", "conv_z", 2),
    ("POST /api/b", "conv_z", 9),
]

# Planted manifest lines, (lno, fpath, line): four manifest formats
# mixed with non-dependency lines. Each pack's lib_manifest hook
# reads ONLY its own file and matches only its own line shape — two
# packs (expressish, nextish) share package.json with different line
# rules, so even the same file yields different libraries per pack.
MANIFEST_CASES: list[tuple[int, str, str]] = [
    (0, "requirements.txt", "flask==2.3.0"),
    (1, "requirements.txt", "# pinned for CVE-2023-30861"),
    (2, "requirements.txt", "pydantic==1.10.12"),
    (3, "package.json", '"express": "^4.18.2",'),
    (4, "package.json", '"next": "~13.4.0",'),
    (5, "package.json", '"name": "myapp",'),
    (6, "go.mod", "require github.com/go-chi/chi v5.0.8"),
    (7, "go.mod", "module example.com/server"),
    (8, "Gemfile", "gem 'rails', '7.0.4'"),
    (9, "Gemfile", "source 'https://rubygems.org'"),
    (10, "build.gradle", 'implementation "org.slf4j:slf4j-api:2.0.9"'),
    (11, "build.gradle", 'testImplementation "junit:junit:4.13.2"'),
    (12, "vcpkg.json", '"fmt": "10.1.1",'),
    (13, "vcpkg.json", '"$schema": "https://example.invalid/vcpkg.schema.json",'),
    # a scoped dep THREE packs see: expressish's broad rule and
    # angularish's scoped-only rule both take it, nextish's
    # tilde-only rule does not
    (14, "package.json", '"@angular/core": "^17.0.2",'),
    # Cargo.toml rows exercise toml.rs's SECTION-SCOPED lib_query:
    # serde sits BEFORE the [dependencies] header (section NULL ->
    # dropped); anyhow (string form) and tokio (inline-table form)
    # are inside it; criterion falls under [dev-dependencies] and is
    # dropped (toml.rs:28 binds @section to "dependencies" only)
    (15, "Cargo.toml", 'serde = "1.0.193"'),
    (16, "Cargo.toml", "[dependencies]"),
    (17, "build.gradle.kts", 'implementation("io.ktor:ktor-server-core:2.3.4")'),
    (18, "build.gradle.kts", 'plugins { kotlin("jvm") version "1.9.10" }'),
    (19, "Cargo.toml", 'anyhow = "1.0.79"'),
    (20, "Cargo.toml", 'tokio = { version = "1.35.0", features = ["full"] }'),
    (21, "Cargo.toml", "[dev-dependencies]"),
    (22, "Cargo.toml", 'criterion = "0.5.1"'),
    # a star-pinned dep ONLY typescriptish takes: its version
    # predicate carries the '*' alternation (typescript.rs:30);
    # expressish's broad rule requires a leading digit
    (23, "package.json", '"left-pad": "*",'),
]

# Planted endpoint-definition files, (pid, ep_file), for
# endpoint_path_filter: a routes.rb, controller files in two
# languages (case-sensitive contains — only the Java one carries
# 'Controller'), a plain server main.
EPFILE_CASES: list[tuple[int, str]] = [
    (0, "config/routes.rb"),
    (1, "app/controllers/items_controller.rb"),
    (2, "src/ItemController.java"),
    (3, "src/main/AppRoutes.java"),
    (4, "cmd/server/main.go"),
]

# Planted endpoint nodes for update_endpoint, (uid, ep_name, ep_file,
# annot) — annot '' models the absent verb annotation. The java rows
# exercise the exact table + unknown fallthrough, the cpp rows the
# suffix-strip/trim-quotes/uppercase chain and the ANY default, the
# route.ts rows the verb-named-handler rename.
UPDATE_CASES: list[tuple[int, str, str, str]] = [
    (0, "createItem", "src/Api.java", "POSTMAPPING"),
    (1, "listItems", "src/Api.java", "GETMAPPING"),
    (2, "oddball", "src/Api.java", "TRACEMAPPING"),
    (3, "register", "srv/main.cpp", '"get"_METHOD'),
    (4, "register2", "srv/main.cpp", "'post'"),
    (5, "bare", "srv/main.cpp", ""),
    (6, "GET", "app/api/items/route.ts", ""),
    (7, "helper", "app/api/items/route.ts", "POST"),
]

# Planted candidate page files for extra_page: rails views (partials,
# two template exts, a stray .md), Next.js app-router pages (one in a
# test dir, one under node_modules), a pages-router file.
PAGE_CASES: list[tuple[int, str]] = [
    (0, "app/views/users/index.html.erb"),
    (1, "app/views/users/_form.haml"),
    (2, "src/app/items/page.tsx"),
    (3, "src/app/items/__tests__/page.tsx"),
    (4, "web/node_modules/x/app/page.jsx"),
    (5, "app/views/readme.md"),
    (6, "src/pages/about.tsx"),
    # only angularish's bare-extension rule (angular.rs:242-247)
    # takes a stylesheet, and it needs no /views/ or /app/ dir
    (7, "src/styles/theme.scss"),
    (8, "src/styles/dark.sass"),
    # pages-router index collapsing for the page_name hook
    # (react.rs:1016-1023): a dir index names the dir, the root
    # index names 'index'
    (9, "src/pages/docs/index.tsx"),
    (10, "src/pages/index.tsx"),
]

# Planted class names for class_contains_datamodel: the DM_CASES
# names (Customer, Company, Status, LineItem) hit these via each
# pack's suffix × inflection candidate fan-out.
CLASS_CASES: list[tuple[int, str]] = [
    (0, "CustomerController"),
    (1, "CompaniesBlueprint"),
    (2, "StatusController"),
    (3, "OrderController"),
    (4, "Helper"),
    (5, "CustomerBlueprint"),
]

# Planted raw import specs, (case_id, raw_import): relative prefixes,
# absolute prefixes, quoting, dotted module names, plain names — each
# pack's op list rewrites a different subset.
IMPORT_CASES: list[tuple[int, str]] = [
    (0, " ./components/App "),
    (1, "/abs/widgets"),
    (2, "java.util.List"),
    (3, "'quoted/mod'"),
    (4, "plain_mod"),
    (5, "a.b.c.D"),
    # a '.js' path with TWO '.js' occurrences: typescriptish's
    # ext_js_to_ts rewrites BOTH (typescript.rs:306-308 uses Rust's
    # replace-all), while expressish leaves the extension alone
    (6, "./mod.js/helpers.js"),
]

# Planted finished-graph edges, (eid, src_type, edge_type, tgt_type):
# each pack's clean_edges list prunes a different family; the arm
# emits SURVIVORS (the engine's clean pass output).
CLEAN_CASES: list[tuple[int, str, str, str]] = [
    (0, "Class", "OPERAND", "Function"),
    (1, "Class", "INHERITS", "Class"),
    (2, "Function", "CALLS", "Function"),
    (3, "Class", "CONTAINS", "Datamodel"),
    (4, "Page", "RENDERS", "Function"),
]

# Planted function names for is_component: capitalized component
# names, a hook, snake_case, an underscore-initial helper.
FUNC_CASES: list[tuple[int, str]] = [
    (0, "App"),
    (1, "useItems"),
    (2, "render_page"),
    (3, "NavBar"),
    (4, "_private"),
]

# Planted endpoint registrations, (vid, call, handler, body):
# rust-style packs read the CALL text, python-style packs the
# HANDLER name, swift-style packs the endpoint BODY — the same rows
# answer differently because different packs consult different
# columns. Rows 7-12 are the swift.rs:128-143 body-tier fixtures:
# the bodyParams-nil GET tier, each method literal, the
# first-tier-wins row (POST literal AND bodyParams: nil -> GET),
# and a no-tier row (swift sets NO default verb).
VERB_CASES: list[tuple[int, str, str, str]] = [
    (0, 'r.get("/items", h)', "listItems", ""),
    (1, 'app.route("/items")', "get_items", ""),
    (2, 'router.post("/x", handle)', "makeX", ""),
    (3, "", "create_order", ""),
    (4, 'r.delete("/y")', "remove_y", ""),
    (5, 'app.route("/z")', "index", ""),
    (6, 'c.put("/w")', "update_w", ""),
    (7, "", "fetchPerson", 'URLRequest(url: url); method: "GET"'),
    (8, "", "createPerson", 'method: "POST"; bodyParams: params'),
    (9, "", "loadCache", "bodyParams: nil"),
    (10, "", "deletePerson", 'method: "DELETE"'),
    (11, "", "ambiguous", 'method: "POST"; bodyParams: nil'),
    (12, "", "opaque", "plain body"),
    # python.rs:233-239: a DOTTED handler strips to its method name
    # before the prefix tiers — flaskish sees get_stats (GET),
    # rustish prefixes the full string (''), kotlinish defaults GET
    (13, "", "api.get_stats", ""),
]

# Planted filenames for is_test_file: each pack's contains/suffix
# lists claim a different subset.
TESTFILE_CASES: list[tuple[int, str]] = [
    (0, "pkg/auth_test.go"),
    (1, "spec/models/user_spec.rb"),
    (2, "src/__tests__/util.ts"),
    (3, "src/app.test.tsx"),
    (4, "src/main.go"),
    (5, "cart.spec.ts"),
    (6, "lib/user.rb"),
    (7, "src/OrderTest.java"),
    (8, "src/Main.java"),
]

# Planted Datamodel candidates, (did, dm_file, dm_name): paths hit
# different packs' dm_path_filter substrings; names exercise each
# pluralization rule of data_model_name.
DM_CASES: list[tuple[int, str, str]] = [
    (0, "db/schema.rb", "Customer"),
    (1, "app/models/user.rb", "Company"),
    (2, "models/order.ts", "Status"),
    (3, "src/lib/util.ts", "LineItem"),
    # swift.rs:174-176 CoreData filter (kotlinish's app/models is
    # already hit by row 1; its .rb extension is irrelevant — the
    # hook is a pure path-substring test, mod.rs:116)
    (4, "App/CoreData/Person.swift", "Person"),
]

# Planted e2e call sites for e2e_test_id_finder_string: snake_case
# and camelCase finders over both quote styles, plus a non-finder
# call no pack may match.
E2E_CASES: list[tuple[int, str]] = [
    (0, 'await page.get_by_test_id("cart").click()'),
    (1, "getByTestId('nav')"),
    (2, 'get_by_test_id("checkout-btn")'),
    (3, 'click(getByTestId("submit"))'),
    (4, "plain.click()"),
]

# Planted association names for convert_association_to_name:
# underscored plurals, -ies plurals, an -us noun naive 's'-stripping
# would mangle (railsish carries a pass-through rule for it).
ASSOC_CASES: list[tuple[int, str]] = [
    (0, "customer_orders"),
    (1, "companies"),
    (2, "status"),
    (3, "line_item"),
]

# Planted component declarations, (ccid, comp_file, decl), for
# component_selector_to_template_map: both quote styles, a file with
# the wrong suffix (skipped), a decorator without a selector
# (skipped), and a component whose template page is never planted
# (mapped, but produces no RENDERS edge — find_page_fn None).
COMPONENT_CASES: list[tuple[int, str, str]] = [
    (0, "src/app/nav/nav.component.ts",
     "selector: 'app-nav', templateUrl: './nav.component.html'"),
    (1, "src/app/cart/cart.component.ts",
     'selector: "app-cart", templateUrl: "./cart.component.html"'),
    (2, "src/app/util/helpers.ts",
     "selector: 'app-x', templateUrl: './x.component.html'"),
    (3, "src/app/badge/badge.component.ts",
     "templateUrl: './badge.component.html'"),
    (4, "src/app/ghost/ghost.component.ts",
     "selector: 'app-ghost', templateUrl: './ghost.component.html'"),
]

# Planted template/page files, (tplid, tpl_file, tpl_text), for
# page_component_renders_finder: a page referencing one selector, a
# page referencing two (one with an unplanted target), a selector-free
# page, a non-page file carrying a selector (ext-gated out), and the
# reference's substring semantics trap — '<app-navbar' CONTAINS
# '<app-nav', so the reference emits the edge (angular.rs:400:
# code.contains(&format!("<{}", selector))) and so do we.
TEMPLATE_CASES: list[tuple[int, str, str]] = [
    (0, "src/app/shell/shell.component.html", "<div><app-nav></app-nav></div>"),
    (1, "src/app/cart/cart.component.html", "<app-nav x=1> plus <app-ghost>"),
    (2, "src/app/nav/nav.component.html", "plain <span>"),
    (3, "docs/snippet.txt", "<app-nav>"),
    (4, "src/app/x/x.component.html", "<app-navbar></app-navbar>"),
]

# Planted declaration lines, (idid, decl), for the identifier hook:
# a ::-scoped ruby constant, an exported TS class, a kotlin data
# class, and a non-class line no rule may match.
IDENT_CASES: list[tuple[int, str]] = [
    (0, "class Admin::User < Base"),
    (1, "export class CartComponent implements OnInit {"),
    (2, "data class Point(val x: Int)"),
    (3, "def helper():"),
    # markup, not a declaration: only svelteish's (tag_name)-style
    # rule fires here; every class-declaration rule ignores it (and
    # svelteish ignores all four declaration lines above)
    (4, "<CartWidget total={n} />"),
]

# Planted class spans, (pcid, cls_file, cls_name, cls_start, cls_end),
# for parent_resolve / direct_class_calls / filter_by_implements:
# nested spans in one file (innermost-wins), a class in another file,
# and a DUPLICATE name (two 'Dup' classes) that direct_class_calls'
# exactly-one gate must reject.
PCLASS_CASES: list[tuple[int, str, str, int, int]] = [
    (0, "src/models.py", "User", 10, 80),
    (1, "src/models.py", "Meta", 20, 40),
    (2, "src/models.py", "Order", 100, 150),
    (3, "pkg/store.go", "Store", 5, 60),
    (4, "src/a.py", "Dup", 1, 5),
    (5, "src/b.py", "Dup", 1, 5),
]

# Planted functions, (pfid, fn_file, fn_name, fn_line, receiver):
# receiver '' models a plain function. Row 0 sits inside BOTH User
# and Meta (innermost = Meta); row 4 has no receiver but sits inside
# Store's span (range-resolving packs find Store, receiver-resolving
# packs find nothing); row 5's receiver names Order while its line
# sits inside User (the two strategies give different parents for
# the SAME row).
PFUNC_CASES: list[tuple[int, str, str, int, str]] = [
    (0, "src/models.py", "save", 30, ""),
    (1, "src/models.py", "validate", 50, ""),
    (2, "src/models.py", "main", 200, ""),
    (3, "pkg/store.go", "Get", 120, "Store"),
    (4, "pkg/store.go", "helper", 20, ""),
    (5, "src/models.py", "load", 15, "Order"),
    # controller-file functions for dm_within (ruby.rs:224-249);
    # their files carry no pcc class span and no receiver, so they
    # are invisible to every parent_resolve strategy
    (6, "app/controllers/customers_controller.rb", "show", 210, ""),
    (7, "app/controllers/customers_controller.rb", "index", 220, ""),
    (8, "app/controllers/statuses_controller.rb", "update", 230, ""),
    # extra_page_finder handlers (react.rs:837-841 default-export
    # lookup, ruby.rs:536-545 mailer fallback, angular.rs:285 the
    # paired component class); like rows 6-8 these carry no pcc span
    # and no receiver, so every parent_resolve strategy ignores them
    (9, "web/src/app/billing/page.tsx", "BillingPage", 5, ""),
    (10, "app/mailers/orders_mailer.rb", "receipt", 12, ""),
    (11, "src/ui/hero-banner.component.ts", "HeroBannerComponent", 3, ""),
    (12, "src/ui/side-nav.component.ts", "SideNavComponent", 4, ""),
    # goish's dm_within variant target: snake(Customer)+'_store.go'
    (13, "internal/customer_store.go", "SaveCustomer", 8, ""),
]

# Planted call operands, (clid, operand, called), for
# direct_class_calls: a unique class match, the ambiguous 'Dup'
# (format.rs:760-762 requires len == 1), an unknown name, a second
# unique match.
CALLOP_CASES: list[tuple[int, str, str]] = [
    (0, "User", "save"),
    (1, "Dup", "run"),
    (2, "Ghost", "go"),
    (3, "Order", "submit"),
]

# Planted implements matches, (impid, ord, icls, itrait), for
# filter_by_implements: User implements TWO traits (the reference
# takes the FIRST match and breaks, format.rs:66-76 — ord is parse
# order), Store one, everything else none (filtered out).
IMPL_CASES: list[tuple[int, int, str, str]] = [
    (0, 0, "User", "Serializable"),
    (1, 1, "User", "Comparable"),
    (2, 2, "Store", "Repository"),
]

# Planted group-registration lines, (gid, reg_text), for
# endpoint_group: a chi Mount call, a class-level @RequestMapping,
# and a non-registration line no pack may match.
EPGROUP_CASES: list[tuple[int, str]] = [
    (0, 'r.Mount("/tribes", TribesHandlers)'),
    (1, '@RequestMapping("/api/v2") class OrderController {'),
    (2, "plain text"),
]

# Planted endpoints with their defining handler, (geid, handler_fn,
# ep_name): the group's path is prefixed onto the endpoints its
# handler defines (array_graph.rs:210); endpoints of an unmatched
# handler keep their names (emitted as no rows — the arm shows
# REWRITES, following the absent-key = no-rows convention).
GROUPEP_CASES: list[tuple[int, str, str]] = [
    (0, "TribesHandlers", "/list"),
    (1, "TribesHandlers", "/create"),
    (2, "OrderController", "/orders"),
    (3, "FreeHandler", "/misc"),
]


# Planted endpoints with their ENCLOSING-block text, (ppid,
# enclosing, ep_name), for find_endpoint_parents: nested rails
# namespace+resources blocks (outermost first in document order, as
# the reference's reversed walk-up yields), a single resources block,
# express router.use prefix registrations, and a marker-free row no
# pack may rewrite (the arm emits REWRITES only).
EPPARENT_CASES: list[tuple[int, str, str]] = [
    (0, 'namespace "admin" do resources :users do', "/list"),
    (1, "resources :orders do", "/show"),
    (2, "router.use('/admin', adminRouter); router.use('/v2', api)", "/users"),
    (3, "plain do", "/free"),
]

# Planted (function name, file) pairs for is_test: a Go Test-prefix
# name in a _test.go file, a pytest-style name, a helper whose FILE
# is a spec (only file-delegating packs claim it), 'Tester' (go.rs's
# starts_with takes it — the reference's own trap), a kotlin-style
# camelCase test name no shipped prefix matches, and a plain function.
ISTEST_CASES: list[tuple[int, str, str]] = [
    (0, "TestLogin", "pkg/auth_test.go"),
    (1, "test_checkout", "tests/cart.py"),
    (2, "helper", "spec/models/user_spec.rb"),
    (3, "Tester", "src/main.go"),
    (4, "testValue", "src/Main.kt"),
    (5, "render", "src/app.py"),
]

# Planted integration-test names for integration_test_edge_finder:
# two matching CLASS_CASES names exactly, one matching nothing
# (ruby.rs:495-497: no class, no edge).
ITEST_CASES: list[tuple[int, str]] = [
    (0, "CustomerController"),
    (1, "Helper"),
    (2, "checkout_flow"),
]

# Planted file paths for is_lib_file, (lfid, lf_path): each row hits
# a different branch of some pack's predicate — absolute under /usr
# (default's starts_with('/') AND typescript's /usr arm AND its
# /lib/ contains), node_modules, a /lib/ segment, a .d.ts suffix, an
# absolute .nvm path, and a relative source file nobody claims.
LIBF_CASES: list[tuple[int, str]] = [
    (0, "/usr/lib/libssl.so"),
    (1, "src/node_modules/lodash/index.js"),
    (2, "app/lib/util.ts"),
    (3, "types/global.d.ts"),
    (4, "/home/dev/.nvm/versions/node.js"),
    (5, "src/main.ts"),
]

# Planted GotoImplementations answers, (gid, g_fn, impl_line,
# impl_file) — the go.rs:236-241 LSP round-trip stubbed as a dim (the
# same treatment the lib-manifest lines get); row 1's position
# matches no trait, so it must emit nothing (go.rs:243 falls through
# to Ok(None)).
GIMPL_CASES: list[tuple[int, str, int, str]] = [
    (0, "Get", 40, "pkg/iface.go"),
    (1, "helper", 99, "pkg/iface.go"),
    (2, "load", 12, "src/traits.rs"),
]

# Planted traits keyed by declaration position, (trid, trait_name,
# t_line, t_file) — the find_trait callback's lookup table
# (go.rs:239: find_trait(imp.line, imp.file)).
TRAITD_CASES: list[tuple[int, str, int, str]] = [
    (0, "Store", 40, "pkg/iface.go"),
    (1, "Loader", 12, "src/traits.rs"),
]

# Planted candidate extra-page files for extra_page_finder, (xid,
# xfile, xexport): two Next.js app-router pages (one with a planted
# default-export name, one without), three rails view templates (a
# controller hit, a mailer-fallback hit, a no-handler row that must
# vanish — ruby.rs:548), and two angular component assets (a paired
# class, an orphan). Each pack's OWN extra_page gate selects its
# rows, exactly as the pipeline calls the finder only on
# is_extra_page files.
# Planted call sites, (cxid, calltext), one per receiver SHAPE, for
# the call_operand hook (the operand-emission convention of each
# language's function_call_query): a bare call, a single-identifier
# receiver, a dotted receiver chain, a call-result receiver, and a
# module-scoped call. Every pack answers each shape with emit (row
# with operand), anon (row without), or drop (no row).
CALLX_CASES: list[tuple[int, str]] = [
    (0, "save()"),
    (1, "db.save()"),
    (2, "a.b.save()"),
    (3, "fetch().save()"),
    (4, "Mod::save()"),
]

# Planted Rails-style route declarations for restful_routes
# (rails_routes.rs:125-230), (rrid, res, action, verb, ep_name,
# item_type, item_name, parents): the seven standard RESTful actions,
# the no-action verb fallbacks (GET rewrites only show/edit NAMES;
# PUT/PATCH/DELETE take :id; POST nothing), collection/member blocks
# (whose walk-up captures the own resources block as the LAST parent
# — excluded per :142-144), resource_member items (:182-188,
# including the parent-already-in-path case :183), namespace +
# nested-resource parents (:156-168), and the standard-action
# last-parent==resource exclusion (:148-153).
RESTROUTE_CASES: list[tuple[int, str, str, str, str, str, str, str]] = [
    (0, "orders", "index", "", "", "", "", ""),
    (1, "orders", "show", "", "", "", "", ""),
    (2, "orders", "edit", "", "", "", "", ""),
    (3, "orders", "new", "", "", "", "", ""),
    (4, "orders", "destroy", "", "", "", "", ""),
    (5, "orders", "", "DELETE", "remove", "", "", ""),
    (6, "orders", "", "GET", "show", "", "", ""),
    (7, "orders", "", "GET", "edit", "", "", ""),
    (8, "orders", "", "GET", "list", "", "", ""),
    (9, "orders", "", "POST", "create", "", "", ""),
    (10, "profiles", "", "POST", "enrich_profile", "collection",
     "enrich_profile", "res:profiles"),
    (11, "profiles", "", "POST", "enrich_profile", "member",
     "enrich_profile", "res:profiles"),
    (12, "intro_requests", "", "POST", "create_from_public_page",
     "resource_member", "create_from_public_page", ""),
    (13, "users", "show", "", "", "", "", "ns:admin"),
    (14, "comments", "index", "", "", "", "", "res:posts"),
    (15, "orders", "index", "", "", "", "", "ns:admin,res:orders"),
    (16, "profiles", "", "GET", "stats", "collection", "stats",
     "ns:admin,res:profiles"),
    (17, "posts", "", "GET", "preview", "resource_member", "preview",
     "res:posts"),
    # rails_routes.rs:196-198: a standard action whose resource is
    # already among the KEPT parents (not last — the exclusion at
    # :148-153 only inspects the last) must not re-push the segment
    (18, "orders", "show", "", "", "", "", "res:orders,res:posts"),
    # :214 `_ => ()`: a present-but-UNKNOWN action adds no suffix and
    # never consults the verb fallback (verb would have added /:id)
    (19, "orders", "archive", "", "", "", "", ""),
    (20, "orders", "archive", "DELETE", "archive", "", "", ""),
]

XPAGE_CASES: list[tuple[int, str, str]] = [
    (0, "web/src/app/billing/page.tsx", "BillingPage"),
    (1, "web/src/app/docs/page.tsx", ""),
    (2, "app/views/customers/show.html.erb", ""),
    (3, "app/views/orders_mailer/receipt.html.erb", ""),
    (4, "app/views/ghosts/nope.html.erb", ""),
    (5, "src/ui/hero-banner.component.html", ""),
    (6, "src/ui/orphan-widget.component.css", ""),
    # a .sass component stylesheet (angular.rs:246,266): the gate
    # must accept it and component_pair must rewrite it to its
    # .component.ts class (round-4 ADVICE: it was silently dropped)
    (7, "src/ui/side-nav.component.sass", ""),
]


def dialect_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        DIALECT_CASES,
        ["case_id", "raw_path", "test_name", "text"],
        ["INT", "STRING", "STRING", "STRING"],
    )


def handler_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        HANDLER_CASES, ["ep", "conv_id", "turn_idx"], ["STRING", "STRING", "INT"]
    )


def file_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(FILE_CASES, ["case_id", "fpath"], ["INT", "STRING"])


def manifest_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        MANIFEST_CASES, ["lno", "fpath", "line"], ["INT", "STRING", "STRING"]
    )


def import_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(IMPORT_CASES, ["case_id", "raw_import"], ["INT", "STRING"])


def clean_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        CLEAN_CASES,
        ["eid", "src_type", "edge_type", "tgt_type"],
        ["INT", "STRING", "STRING", "STRING"],
    )


def assoc_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(ASSOC_CASES, ["aid", "assoc"], ["INT", "STRING"])


def func_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(FUNC_CASES, ["fid", "fname"], ["INT", "STRING"])


def verb_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        VERB_CASES,
        ["vid", "call", "handler", "body"],
        ["INT", "STRING", "STRING", "STRING"],
    )


def testfile_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(TESTFILE_CASES, ["tfid", "tfname"], ["INT", "STRING"])


def dm_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        DM_CASES, ["did", "dm_file", "dm_name"], ["INT", "STRING", "STRING"]
    )


def e2e_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(E2E_CASES, ["eeid", "calltext"], ["INT", "STRING"])


def epfile_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(EPFILE_CASES, ["pid", "ep_file"], ["INT", "STRING"])


def update_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        UPDATE_CASES,
        ["uid", "ep_name", "ep_file", "annot"],
        ["INT", "STRING", "STRING", "STRING"],
    )


def page_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(PAGE_CASES, ["pgid", "page_file"], ["INT", "STRING"])


def class_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(CLASS_CASES, ["klid", "class_name"], ["INT", "STRING"])


def component_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        COMPONENT_CASES, ["ccid", "comp_file", "decl"], ["INT", "STRING", "STRING"]
    )


def template_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        TEMPLATE_CASES, ["tplid", "tpl_file", "tpl_text"], ["INT", "STRING", "STRING"]
    )


def ident_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(IDENT_CASES, ["idid", "decl"], ["INT", "STRING"])


def pclass_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        PCLASS_CASES,
        ["pcid", "cls_file", "cls_name", "cls_start", "cls_end"],
        ["INT", "STRING", "STRING", "INT", "INT"],
    )


def pfunc_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        PFUNC_CASES,
        ["pfid", "fn_file", "fn_name", "fn_line", "receiver"],
        ["INT", "STRING", "STRING", "INT", "STRING"],
    )


def callop_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        CALLOP_CASES, ["clid", "operand", "called"], ["INT", "STRING", "STRING"]
    )


def impl_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        IMPL_CASES,
        ["impid", "ord", "icls", "itrait"],
        ["INT", "INT", "STRING", "STRING"],
    )


def epgroup_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(EPGROUP_CASES, ["gid", "reg_text"], ["INT", "STRING"])


def groupep_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        GROUPEP_CASES, ["geid", "handler_fn", "ep_name"], ["INT", "STRING", "STRING"]
    )


def epparent_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        EPPARENT_CASES, ["ppid", "enclosing", "ep_name"], ["INT", "STRING", "STRING"]
    )


def istest_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        ISTEST_CASES, ["itid", "ifname", "iffile"], ["INT", "STRING", "STRING"]
    )


def itest_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(ITEST_CASES, ["itn_id", "itest_name"], ["INT", "STRING"])


def libf_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(LIBF_CASES, ["lfid", "lf_path"], ["INT", "STRING"])


def gimpl_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        GIMPL_CASES,
        ["gid", "g_fn", "impl_line", "impl_file"],
        ["INT", "STRING", "INT", "STRING"],
    )


def traitd_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        TRAITD_CASES,
        ["trid", "trait_name", "t_line", "t_file"],
        ["INT", "STRING", "INT", "STRING"],
    )


def xpage_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        XPAGE_CASES, ["xid", "xfile", "xexport"], ["INT", "STRING", "STRING"]
    )


def restroute_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(
        RESTROUTE_CASES,
        ["rrid", "res", "action", "verb", "ep_name", "item_type",
         "item_name", "parents"],
        ["INT"] + ["STRING"] * 7,
    )


def callx_cases_cte() -> str:
    from ..sources.entities import _union_all

    return _union_all(CALLX_CASES, ["cxid", "calltext"], ["INT", "STRING"])


# ---------------------------------------------------------------------------
# Pack interpreters — fixed operators rendering dialect-portable SQL
# from pack data. No pack-specific code anywhere below this line.
# ---------------------------------------------------------------------------

def classify_test_sql(pack: dict, name_expr: str, dialect: str) -> str:
    """classify_test as data: ordered (regex, class) rules + default
    (queries/mod.rs:183 override)."""
    rx = "regexp_like" if dialect == "spark" else "regexp_matches"
    arms = " ".join(
        f"WHEN {rx}({name_expr}, '{pat}') THEN '{cls}'"
        for pat, cls in pack["test_classes"]
    )
    if not arms:
        # no rules = the trait default (mod.rs:183): every test is
        # the default class (kotlin.rs / swift.rs ship no override)
        return f"'{pack['default_test_class']}'"
    return f"CASE {arms} ELSE '{pack['default_test_class']}' END"


def normalize_request_sql(pack: dict, path_expr: str, dialect: str) -> str:
    """The dialect's backend-path normalization — only the pack's
    declared template styles rewrite to :param. The pseudo-style
    'numseg' (a corpus that writes concrete numeric ids as its
    template-var form, e.g. the transcriptish dialect) rewrites
    `/123` segments first; it is a pre-rule rather than a
    BACKEND_RULES_NAMED entry because its replacement keeps the
    slash (extract.extract_requests applies the same spelling)."""
    from ..functions.paths import _rr

    styles = [s for s in pack["request_styles"] if s != "numseg"]
    if "numseg" in pack["request_styles"]:
        # the single shared constant: extract.extract_requests applies
        # the same spelling, and the two sites must never drift
        path_expr = _rr(path_expr, NUMSEG_RE, "/:param", dialect)
    return normalize_backend_path_sql(path_expr, dialect, styles=styles)


def handler_pick_sql(pack: dict, dialect: str) -> str:
    """handler_finder as data: the globally-first or -last referencing
    turn per endpoint, as a struct-min/max AGGREGATE (map-side
    combine; never a per-endpoint window — mod.rs:208-223 analog).
    Renders a full SELECT over a `hc(ep, conv_id, turn_idx)` CTE."""
    agg = "min" if pack["handler_pick"] == "first" else "max"
    if dialect == "spark":
        return (
            f"SELECT ep, {agg}(struct(conv_id, turn_idx)).conv_id AS conv_id,"
            f" {agg}(struct(conv_id, turn_idx)).turn_idx AS turn_idx FROM hc GROUP BY ep"
        )
    # DuckDB oracle: a row_number pick over the same lexicographic
    # (conv_id, turn_idx) order — a deliberately different (window)
    # implementation of the same semantics
    d = "ASC" if pack["handler_pick"] == "first" else "DESC"
    return (
        "SELECT ep, conv_id, turn_idx FROM ("
        " SELECT ep, conv_id, turn_idx, row_number() OVER ("
        f" PARTITION BY ep ORDER BY conv_id {d}, turn_idx {d}) AS rk FROM hc) WHERE rk = 1"
    )


def _sq(s: str) -> str:
    """SQL single-quoted literal (quote-doubling only — callers keep
    regexes backslash-free so one literal parses identically under
    Spark's escape-processing string rules and DuckDB's raw ones)."""
    return "'" + s.replace("'", "''") + "'"


def lib_extract_sql(pack: dict, dialect: str) -> str:
    """get_libs as data (lib_query hook, queries/mod.rs:58-60,
    executed by lang/mod.rs:176-183; is_lib_file mod.rs:61-63 picks
    the manifest): a full SELECT over the `mc(lno, fpath, line)` CTE
    emitting (lno, lib) for lines of the pack's manifest file that
    match its (name, version) rule. Groups 1/2 of each form regex are
    the library name and version; `forms` (default [line_re]) are
    tried in order, first match wins — toml.rs's lib_query string /
    inline-table alternation (queries/toml.rs:30-43). An optional
    `section` scopes matches to the pack's `[header]` table
    (toml.rs:28 `#eq? @section "dependencies"`): the section of a
    line is the nearest preceding bracket-header, computed with one
    running MAX window per file keyed on zero-padded lno (max skips
    NULL non-header rows in both engines — no IGNORE NULLS syntax
    divergence), so a dep line before any header, or under a
    different table like [dev-dependencies], extracts nothing."""
    m = pack["lib_manifest"]
    rx = "regexp_like" if dialect == "spark" else "regexp_matches"
    forms = m.get("forms", [m["line_re"]] if "line_re" in m else [])
    lits = [_sq(f) for f in forms]
    val = "CASE " + " ".join(
        f"WHEN {rx}(line, {lit}) THEN regexp_extract(line, {lit}, 1)"
        f" || '@' || regexp_extract(line, {lit}, 2)"
        for lit in lits
    ) + " END"
    hit = " OR ".join(f"{rx}(line, {lit})" for lit in lits)
    src = f"mc WHERE fpath = {_sq(m['file'])}"
    if "section" in m:
        # bracket-header detection is pure substr/|| (no regex, so
        # one literal rendering serves both dialects); the window's
        # string MAX of 'lpad(lno)||name' picks the latest header
        is_hdr = (
            "substr(line, 1, 1) = '[' AND"
            " substr(line, length(line), 1) = ']'"
        )
        hdr_name = "substr(line, 2, length(line) - 2)"
        sec = (
            f"substr(max(CASE WHEN {is_hdr} THEN"
            f" lpad(CAST(lno AS STRING), 9, '0') || {hdr_name} END)"
            " OVER (PARTITION BY fpath ORDER BY lno"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 10)"
        )
        src = (
            f"(SELECT lno, line, {sec} AS section FROM {src})"
            f" WHERE section = {_sq(m['section']['want'])}"
        )
    return f"SELECT lno, {val} AS lib FROM {src} AND ({hit})"


# resolve_import_path op vocabulary -> SQL renderer. Each op maps an
# expression to an expression; ops compose in pack order. All
# renderings use only trim/substr/length/replace/CASE/LIKE plus one
# anchored single-match regexp_replace — identical text parses and
# evaluates the same in Spark SQL and DuckDB.
def _op_trim(x: str) -> str:
    return f"trim({x})"


def _op_strip_rel_prefix(x: str) -> str:
    # react.rs:702-708 ('./' and '/' arms; the '.\\' arm is omitted —
    # windows-style separators never reach the planted corpus)
    return (
        f"CASE WHEN {x} LIKE './%' THEN substr({x}, 3)"
        f" WHEN {x} LIKE '/%' THEN substr({x}, 2) ELSE {x} END"
    )


def _op_strip_quotes(x: str) -> str:
    # react.rs:710-716: strip one matching surrounding quote pair
    return (
        f"CASE WHEN length({x}) >= 2 AND substr({x}, 1, 1) IN ('''', '\"')"
        f" AND substr({x}, length({x}), 1) = substr({x}, 1, 1)"
        f" THEN substr({x}, 2, length({x}) - 2) ELSE {x} END"
    )


def _op_dots_to_path_drop_last(x: str) -> str:
    # java.rs:237-245: dotted names become paths, last segment dropped
    return (
        f"CASE WHEN {x} LIKE '%.%'"
        f" THEN replace(regexp_replace({x}, '[.][^.]*$', ''), '.', '/')"
        f" ELSE {x} END"
    )


def _op_dots_to_path_drop_last2(x: str) -> str:
    # kotlin.rs:266-274: dotted paths with MORE than two segments
    # drop the last TWO and become slash paths; shorter ones pass
    # through unchanged (parts[..len-2].join("/"))
    return (
        f"CASE WHEN {x} LIKE '%.%.%'"
        f" THEN replace(regexp_replace({x}, '[.][^.]*[.][^.]*$', ''), '.', '/')"
        f" ELSE {x} END"
    )


def _op_ext_js_to_ts(x: str) -> str:
    # typescript.rs:306-308: a path ending '.js' is retargeted to its
    # '.ts' compilation source. Rust's String::replace swaps EVERY
    # '.js' occurrence (not just the suffix) — replace() does the
    # same in both dialects, so the quirk transcribes exactly.
    return f"CASE WHEN {x} LIKE '%.js' THEN replace({x}, '.js', '.ts') ELSE {x} END"


_PATH_OPS = {
    "trim": _op_trim,
    "strip_rel_prefix": _op_strip_rel_prefix,
    "strip_quotes": _op_strip_quotes,
    "dots_to_path_drop_last": _op_dots_to_path_drop_last,
    "dots_to_path_drop_last2": _op_dots_to_path_drop_last2,
    "ext_js_to_ts": _op_ext_js_to_ts,
}

_NAME_OPS = {
    # trait default (mod.rs:290-292)
    "identity": lambda x: x,
    # java.rs:228-235 / kotlin.rs:256-263: the tail dot segment
    "last_dot_segment": lambda x: f"regexp_extract({x}, '[^.]*$', 0)",
}


def clean_edges_sql(pack: dict) -> str:
    """clean_graph as data (mod.rs:280 hook; go.rs:301-303 the one
    reference override): a NOT-IN prune of declared
    (src_type, edge_type, tgt_type) families over the `ce` CTE,
    emitting survivors. Pure =/AND/OR — dialect-portable."""
    drops = " OR ".join(
        f"(src_type = {_sq(s)} AND edge_type = {_sq(e)} AND tgt_type = {_sq(t)})"
        for s, e, t in pack["clean_edges"]
    )
    return (
        "SELECT eid, src_type || '-' || edge_type || '-' || tgt_type AS edge"
        f" FROM ce WHERE NOT ({drops})"
    )


def _singular_case_sql(expr: str, rules: list[tuple[str, str]]) -> str:
    """Ordered first-match singularization suffix rules as a CASE
    (LIKE/substr only; a (suf, suf) rule is a protect-pass-through)."""
    arms = []
    for suf, rep in rules:
        keep = f"substr({expr}, 1, length({expr}) - {len(suf)})"
        val = expr if rep == suf else f"{keep} || {_sq(rep)}" if rep else keep
        arms.append(f"WHEN {expr} LIKE {_sq('%' + suf)} THEN {val}")
    return f"CASE {' '.join(arms)} ELSE {expr} END"


def _plural_case_sql(expr: str, rules: list[tuple[str, str]]) -> str:
    """Ordered first-match pluralization suffix rules; the '' rule is
    the catch-all append."""
    arms, catch = [], None
    for suf, rep in rules:
        if not suf:
            catch = rep
            continue
        keep = f"substr({expr}, 1, length({expr}) - {len(suf)})"
        arms.append(f"WHEN {expr} LIKE {_sq('%' + suf)} THEN {keep} || {_sq(rep)}")
    tail = f"{expr} || {_sq(catch)}" if catch is not None else expr
    return f"CASE {' '.join(arms)} ELSE {tail} END"


def _pascal_sql(expr: str, dialect: str) -> str:
    """PascalCase each '_' segment head — the one rendering needing a
    per-dialect lambda spelling (Spark transform/array_join vs DuckDB
    list_transform/list_aggregate)."""
    if dialect == "spark":
        return (
            f"array_join(transform(split({expr}, '_'),"
            f" s -> upper(substr(s, 1, 1)) || substr(s, 2)), '')"
        )
    return (
        f"list_aggregate(list_transform(string_split({expr}, '_'),"
        f" s -> upper(substr(s, 1, 1)) || substr(s, 2)), 'string_agg', '')"
    )


def assoc_name_sql(pack: dict, expr: str, dialect: str) -> str:
    """convert_association_to_name as data (mod.rs:284-286 identity
    default; ruby.rs:554-557 singularize + PascalCase)."""
    spec = pack["assoc_name"]
    sing = _singular_case_sql(expr, spec["singular_rules"])
    return _pascal_sql(sing, dialect) if spec.get("pascal") else sing


def resolve_import_sql(pack: dict, expr: str) -> tuple[str, str]:
    """(resolved_path, resolved_name) SQL for the pack's
    import_resolve hook — resolve_import_path as the pack's ordered
    op chain, resolve_import_name as its name op. Dialect-portable
    by construction (see the op renderers)."""
    spec = pack["import_resolve"]
    path = expr
    for op in spec["path_ops"]:
        path = _PATH_OPS[op](path)
    return path, _NAME_OPS[spec["name_op"]](expr)


# is_component styles — a fixed vocabulary like _PATH_OPS. The one
# reference override (react.rs:170-175) tests the first char for
# uppercase; the planted corpus is ASCII so the A-Z range IS that
# check, rendered identically in Spark and DuckDB.
_COMPONENT_STYLES = {
    "upper_initial": lambda x: f"substr({x}, 1, 1) BETWEEN 'A' AND 'Z'",
}


def is_component_sql(pack: dict, expr: str) -> str:
    """is_component as data (mod.rs:65-70 default false;
    react.rs:170-175): the pack names a predicate style."""
    return f"CAST({_COMPONENT_STYLES[pack['component']['style']](expr)} AS STRING)"


def endpoint_verb_sql(
    pack: dict, call_expr: str, handler_expr: str, body_expr: str = "body"
) -> str:
    """add_endpoint_verb as data (mod.rs:184 no-op default): ordered
    (source, pattern, verb) rules rendered as a first-match CASE.
    Sources: call_contains (rust.rs:308-321 '.get(' tiers over the
    call text), handler_prefix / handler_eq (python.rs:240-251 tiers
    over the lowercased handler name — prefix via substr, not LIKE,
    so '_' in patterns never wildcards), call_method_eq
    (kotlin.rs:207-224: the registration call's METHOD identifier —
    the @REQUEST_CALL navigation-suffix capture — compared exactly),
    body_contains (swift.rs:128-143: literal-substring tiers over
    the endpoint body, incl. the bodyParams-nil GET tier). 'default'
    is the fallthrough verb ('' = leave unset, typescript.rs:193-199;
    kotlin.rs:219-221 defaults GET)."""
    method = f"regexp_extract({call_expr}, '([A-Za-z_]+) *[(]', 1)"
    conds = {
        "call_contains": lambda p: f"position({_sq(p)} IN {call_expr}) > 0",
        "handler_prefix": lambda p: (
            f"substr(lower({handler_expr}), 1, {len(p)}) = {_sq(p)}"
        ),
        "handler_eq": lambda p: f"lower({handler_expr}) = {_sq(p)}",
        "call_method_eq": lambda p: f"{method} = {_sq(p)}",
        "body_contains": lambda p: f"position({_sq(p)} IN {body_expr}) > 0",
        # python.rs:233-239: the handler's METHOD name — the tail
        # after the last '.' (a dotted handler is receiver.method) —
        # compared case-sensitively (python.rs does not lowercase;
        # contrast rust.rs:324's to_lowercase, the handler_prefix
        # source above)
        "handler_method_prefix": lambda p: (
            f"substr(regexp_extract({handler_expr}, '[^.]*$', 0), 1, {len(p)})"
            f" = {_sq(p)}"
        ),
        "handler_method_eq": lambda p: (
            f"regexp_extract({handler_expr}, '[^.]*$', 0) = {_sq(p)}"
        ),
    }
    spec = pack["endpoint_verb"]
    arms = " ".join(
        f"WHEN {conds[src](pat)} THEN {_sq(verb)}" for src, pat, verb in spec["rules"]
    )
    return f"CASE {arms} ELSE {_sq(spec['default'])} END"


def test_file_sql(pack: dict, expr: str) -> str:
    """is_test_file as data (mod.rs:180 default false; go.rs:285,
    ruby.rs:253, react.rs:852-866): contains-segment and suffix lists
    rendered with the escaped-LIKE helper files.py uses (a '_' in
    '_test.go' must not wildcard)."""
    from .files import _any, _wild

    spec = pack["test_file"]
    arms = [_wild(expr, "%", c, "%") for c in spec.get("contains", [])]
    arms += [_wild(expr, "%", s, "") for s in spec.get("suffixes", [])]
    return f"CAST({_any(arms)} AS STRING)"


def _wild_contains(expr: str, value: str) -> str:
    from .files import _wild

    return _wild(expr, "%", value, "%")


def data_model_name_sql(pack: dict, expr: str) -> str:
    """data_model_name as data (mod.rs:129 identity default;
    ruby.rs:187-189 pluralize + lowercase): ordered first-match
    suffix rules; the '' rule is the catch-all append. LIKE/substr
    only — dialect-portable."""
    spec = pack["data_model_name"]
    out = _plural_case_sql(expr, spec["plural_rules"])
    return f"lower({out})" if spec.get("lower") else out


def e2e_test_id_sql(pack: dict, expr: str, dialect: str) -> tuple[str, str]:
    """e2e_test_id_finder_string as data (mod.rs:202 default None;
    ruby.rs:256-258): (match-predicate, extract-expression) pulling
    the finder call's quoted argument. The pattern is built from
    character classes only — no backslashes — so ONE literal parses
    identically under Spark's escape-processing string rules and
    DuckDB's raw ones."""
    rx = "regexp_like" if dialect == "spark" else "regexp_matches"
    pat = _sq(pack["e2e_test_id"] + "[(][\"']([^\"']+)[\"'][)]")
    return f"{rx}({expr}, {pat})", f"regexp_extract({expr}, {pat}, 1)"


def router_file_sql(pack: dict, expr: str) -> str:
    """is_router_file as data (mod.rs:239 default false;
    react.rs:599-604: a file routes unless it carries a test
    segment): NOT-contains list via the escaped-LIKE helper."""
    from .files import _wild

    spec = pack["router_file"]
    arms = " AND ".join(
        f"NOT {_wild(expr, '%', c, '%')}" for c in spec["not_contains"]
    )
    return f"CAST({arms} AS STRING)"


def update_endpoint_sql(
    pack: dict, name_expr: str, file_expr: str, annot_expr: str, dialect: str
) -> str:
    """update_endpoint as a named STYLE (mod.rs:185 no-op default):
    the value is `updated_name || '#' || verb` so one arm carries
    both mutations the hook can make. Styles:

      verb_map      java.rs:170-188 — annotation maps through an
                    exact table, unknown annotations fall to the
                    'unknown' verb, an absent annotation gains the
                    'absent' verb (java's trailing add_verb("GET"),
                    :186; '' = adds nothing)
      suffix_strip  cpp.rs:278-296 — strip the declared suffix, trim
                    quotes (the shared trim_quotes scalar), uppercase;
                    an absent annotation means ANY
      name_is_verb  react.rs:566-579 — a verb-named handler is renamed
                    to its route (endpoint_name_from_file,
                    react.rs:876-889: keep from '/api/', drop a
                    /route.ts|.js tail); handler = annotation or the
                    declared default

    '' in the planted annot column models the absent annotation.
    position/substr/CASE/escaped-LIKE only — dialect-portable."""
    from ..functions.paths import trim_quotes_sql
    from .files import _wild

    spec = pack["update_endpoint"]
    style = spec["style"]
    if style == "verb_map":
        arms = " ".join(
            f"WHEN {annot_expr} = {_sq(k)} THEN {_sq(v)}" for k, v in spec["table"]
        )
        # 'absent' is the verb an UN-annotated endpoint still gains
        # (java.rs:185-187 falls through to add_verb("GET"); '' =
        # adds nothing, for dialects whose hook early-returns)
        verb = (
            f"CASE WHEN {annot_expr} = '' THEN {_sq(spec.get('absent', ''))}"
            f" {arms} ELSE {_sq(spec['unknown'])} END"
        )
        return f"{name_expr} || '#' || {verb}"
    if style == "suffix_strip":
        t = f"trim({annot_expr})"
        suf = spec["suffix"]
        stripped = (
            f"CASE WHEN {_wild(t, '%', suf, '')}"
            f" THEN substr({t}, 1, length({t}) - {len(suf)}) ELSE {t} END"
        )
        verb = (
            f"CASE WHEN {annot_expr} = '' THEN 'ANY'"
            f" ELSE upper({trim_quotes_sql(stripped, dialect)}) END"
        )
        return f"{name_expr} || '#' || {verb}"
    # name_is_verb
    after = f"substr({file_expr}, position('/api/' IN {file_expr}))"
    routed = (
        f"CASE WHEN {after} LIKE '%/route.ts' OR {after} LIKE '%/route.js'"
        f" THEN substr({after}, 1, length({after}) - 9) ELSE {after} END"
    )
    route = (
        f"CASE WHEN position('/api/' IN {file_expr}) > 0"
        f" THEN {routed} ELSE {file_expr} END"
    )
    name_out = (
        f"CASE WHEN {name_expr} IN ('GET', 'POST', 'PUT', 'DELETE', 'PATCH')"
        f" THEN {route} ELSE {name_expr} END"
    )
    handler = (
        f"CASE WHEN {annot_expr} <> '' THEN {annot_expr}"
        f" ELSE {_sq(spec.get('default_handler', 'GET'))} END"
    )
    return f"{name_out} || '#' || {handler}"


def extra_page_sql(pack: dict, expr: str) -> str:
    """is_extra_page as data (mod.rs:266-271 default false;
    angular.rs:242-247 ext list; ruby.rs:503-515 views dir + template
    exts; react.rs:743-790 app-router pages minus ignore dirs):
    suffix ANY-of + contains ALL-of + not-contains NONE-of, rendered
    with the escaped-LIKE helper."""
    from .files import _any, _wild

    spec = pack["extra_page"]
    conds = []
    sufs = [_wild(expr, "%", s, "") for s in spec.get("suffixes", [])]
    if sufs:
        conds.append(_any(sufs))
    conds += [_wild(expr, "%", c, "%") for c in spec.get("contains", [])]
    conds += [f"NOT {_wild(expr, '%', c, '%')}" for c in spec.get("not_contains", [])]
    return " AND ".join(conds)


def dm_class_join_sql(pack: dict, dialect: str) -> str:
    """class_contains_datamodel as data (mod.rs:296-303;
    ruby.rs:608-628): candidate class names are {singularized,
    pluralized} dm_name × declared suffixes (PascalCased when the
    pack says so — identity bases when the pack carries no inflection
    tables), equi-matched against the planted class dim via IN. A
    full SELECT over the `dmc`/`kc` CTEs emitting (did, class_name)
    matches."""
    spec = pack["dm_class_join"]
    sing = plur = "dm_name"
    if spec.get("singular_rules"):
        sing = _singular_case_sql("dm_name", spec["singular_rules"])
    if spec.get("plural_rules"):
        plur = _plural_case_sql("dm_name", spec["plural_rules"])
    if spec.get("pascal"):
        sing, plur = _pascal_sql(sing, dialect), _pascal_sql(plur, dialect)
    cands = [f"{b} || {_sq(s)}" for b in (sing, plur) for s in spec["suffixes"]]
    return (
        "SELECT did, class_name FROM dmc, kc"
        f" WHERE class_name IN ({', '.join(cands)})"
    )


def component_template_sql(pack: dict, dialect: str) -> tuple[str, str]:
    """The component-template finder family as data
    (mod.rs:245-264 defaults None/empty/no-op; angular.rs:23-44 the
    @Component decorator query + template_ext; wired by
    core.rs:671-718). Returns (selector_map_select, renders_select)
    over the cpc/tplc dims.

    The selector map (angular.rs:296-361): component files are those
    ending with the pack's component_suffix; the selector and
    template path are the pack's two decorator keys' quoted values;
    the template path runs the reference's resolve chain (trim +
    './'-strip, angular.rs:223-241) and joins onto the component
    file's directory. The renders arm (angular.rs:364-420): a page
    file (pack's page_ext) RENDERS a component's template when its
    text contains '<' + selector — the reference's EXACT substring
    semantics (angular.rs:400), including '<app-nav' matching
    '<app-navbar' — and both endpoints must be known pages
    (find_nodes_by_file_ends_with, core.rs:711-716: an ends-with
    probe, rendered here with right())."""
    spec = pack["component_template"]
    rx = "regexp_like" if dialect == "spark" else "regexp_matches"
    from .files import _wild

    def key_pat(key: str) -> str:
        # keyname: 'value' or keyname: "value" — character classes
        # only, no backslashes (see _sq)
        return _sq(key + "[:] *[\"']([^\"']+)[\"']")

    sel = f"regexp_extract(decl, {key_pat(spec['selector_key'])}, 1)"
    tpl_raw = f"regexp_extract(decl, {key_pat(spec['template_key'])}, 1)"
    resolved = _op_strip_rel_prefix(_op_trim(tpl_raw))
    tgt = f"regexp_replace(comp_file, '/[^/]*$', '') || '/' || {resolved}"
    smap = (
        f"SELECT {sel} AS sel, {tgt} AS tgt FROM cpc"
        f" WHERE {_wild('comp_file', '%', spec['component_suffix'], '')}"
        f" AND {rx}(decl, {key_pat(spec['selector_key'])})"
        f" AND {rx}(decl, {key_pat(spec['template_key'])})"
    )
    renders = (
        f"SELECT CAST(tplid AS STRING) || ':' || s.sel AS id,"
        f" tpl_file || ' RENDERS ' || s.tgt AS value"
        f" FROM tplc JOIN ({smap}) s ON instr(tpl_text, '<' || s.sel) > 0"
        f" WHERE {_wild('tpl_file', '%', spec['page_ext'], '')}"
        f" AND EXISTS (SELECT 1 FROM tplc t2"
        f" WHERE right(t2.tpl_file, length(s.tgt)) = s.tgt)"
    )
    return smap, renders


def identifier_sql(pack: dict, expr: str, dialect: str) -> tuple[str, str]:
    """identifier_query as data (mod.rs:95-97 the default node shape;
    ruby.rs:184-186 constants with :: scope segments, kotlin.rs:15-17
    kotlin's own identifier node): the pack's class-identifier rule,
    capture group 1, over planted declaration lines. Returns
    (match-predicate, extract-expression); non-matching declarations
    emit nothing (the query simply has no captures)."""
    rx = "regexp_like" if dialect == "spark" else "regexp_matches"
    pat = _sq(pack["identifier"]["re"])
    return f"{rx}({expr}, {pat})", f"regexp_extract({expr}, {pat}, 1)"


def parent_resolve_sql(pack: dict, dialect: str) -> str:
    """find_function_parent as data (mod.rs:132-141 default None —
    a pack without the key emits nothing): a named strategy from a
    fixed vocabulary over the pfc/pcc dims, emitting (pfid, value)
    where value is the NodeKeys pair the reference builds
    (class name + class start, go.rs:219-224).

    'enclosing_range' — the walk-up-the-tree family (python.rs:
    105-133, ruby.rs:156-182, kotlin.rs:139-160): the INNERMOST
    same-file class whose span contains the function line. Spark
    renders the innermost pick as a struct-max AGGREGATE (map-side
    combine, no window); the DuckDB oracle uses a row_number window —
    deliberately different implementations of the same semantics.

    'receiver_type' — the explicit-receiver family (go.rs:206-229):
    the declared receiver looked up BY NAME, no ranges; functions
    without a receiver resolve to nothing (go.rs:214-216)."""
    style = pack["parent_resolve"]["style"]
    if style == "receiver_type":
        return (
            "SELECT pfid, cls_name || ':' || CAST(cls_start AS STRING) AS value"
            " FROM pfc JOIN pcc ON receiver = cls_name"
        )
    if style != "enclosing_range":
        raise KeyError(f"unknown parent_resolve style: {style}")
    base = (
        " FROM pfc JOIN pcc ON pfc.fn_file = pcc.cls_file"
        " AND pfc.fn_line BETWEEN pcc.cls_start AND pcc.cls_end"
    )
    if dialect == "spark":
        pick = "max(struct(cls_start, cls_name))"
        return (
            f"SELECT pfid, {pick}.cls_name || ':' ||"
            f" CAST({pick}.cls_start AS STRING) AS value{base} GROUP BY pfid"
        )
    return (
        "SELECT pfid, cls_name || ':' || CAST(cls_start AS STRING) AS value FROM ("
        " SELECT pfid, cls_name, cls_start, row_number() OVER ("
        f" PARTITION BY pfid ORDER BY cls_start DESC) AS rk{base}) WHERE rk = 1"
    )


def class_calls_sql() -> str:
    """direct_class_calls as data (mod.rs:281-283 default false;
    ruby.rs:551-553 the one true override; consumed at
    format.rs:758-764): when a call's operand names EXACTLY ONE known
    class, a Class-level call edge is recorded; ambiguous (two 'Dup'
    classes) or unknown operands record nothing. A count-gated
    equi-join over the occ/pcc dims — =/COUNT only, so one rendering
    serves both engines."""
    return (
        "SELECT clid, cls || '->' || called AS value FROM ("
        " SELECT o.clid, min(p.cls_name) AS cls, min(o.called) AS called,"
        " count(*) AS n FROM occ o JOIN pcc p ON p.cls_name = o.operand"
        " GROUP BY o.clid) WHERE n = 1"
    )


def implements_sql(dialect: str) -> str:
    """filter_by_implements as data (mod.rs:199-201 default false;
    rust.rs:351-353 the one true override; consumed at
    format.rs:59-78): a class survives ONLY when an implements match
    names it, and carries the FIRST matching trait (the reference
    breaks at the first hit — ord is parse order). Spark picks the
    first trait with a struct-min aggregate; the DuckDB oracle with a
    row_number window."""
    if dialect == "spark":
        return (
            "SELECT pcid, cls_name || ' impl ' ||"
            " min(struct(ord, itrait)).itrait AS value"
            " FROM pcc JOIN imc ON icls = cls_name GROUP BY pcid, cls_name"
        )
    return (
        "SELECT pcid, cls_name || ' impl ' || itrait AS value FROM ("
        " SELECT pcid, cls_name, itrait, row_number() OVER ("
        " PARTITION BY pcid ORDER BY ord) AS rk"
        " FROM pcc JOIN imc ON icls = cls_name) WHERE rk = 1"
    )


def endpoint_group_sql(pack: dict, dialect: str) -> str:
    """endpoint_group_find + process_endpoint_groups as data
    (mod.rs:168-170 default None; go.rs:190-201 chi Mount calls,
    java.rs:152-165 class-level @RequestMapping; consumed at
    array_graph.rs:187-217: for each matched (group path, handler),
    the endpoints that handler defines get the group path PREFIXED
    onto their names). The pack carries ONE two-capture regex —
    group 1 the path, group 2 the handler — over the egc dim; the
    rewrite is an equi-join onto the gep endpoints dim. Emits
    (geid, rewritten_name) for rewritten endpoints only."""
    rx = "regexp_like" if dialect == "spark" else "regexp_matches"
    pat = _sq(pack["endpoint_group"]["re"])
    return (
        "SELECT geid, g.prefix || ep_name AS value FROM gep JOIN ("
        f" SELECT regexp_extract(reg_text, {pat}, 1) AS prefix,"
        f" regexp_extract(reg_text, {pat}, 2) AS handler"
        f" FROM egc WHERE {rx}(reg_text, {pat})) g"
        " ON gep.handler_fn = g.handler"
    )


def ep_parents_sql(pack: dict, dialect: str) -> str:
    """find_endpoint_parents as data (mod.rs:159-167 default empty;
    ruby.rs:419-464: walk up enclosing namespace/resources blocks,
    trim_quotes each route name, REVERSE so outermost comes first,
    then the parent names prefix the endpoint's path). The pack
    carries ONE single-capture regex over the planted enclosing text;
    regexp_extract_all preserves document order, which IS
    outermost-first (the planted text is written outer→inner, the
    same order the reference's reversed walk-up produces), and the
    capture group's character class does the quote/colon trimming.
    Emits (ppid, '/'-joined parents prefixed onto ep_name) for
    endpoints with ≥1 parent only — the no-parent row keeps its name
    untouched upstream, following the rewrites-only convention."""
    pat = _sq(pack["ep_parents"]["re"])
    matches = f"regexp_extract_all(enclosing, {pat}, 1)"
    if dialect == "spark":
        joined, nonempty = f"array_join({matches}, '/')", f"size({matches}) > 0"
    else:
        joined = f"list_aggregate({matches}, 'string_agg', '/')"
        nonempty = f"len({matches}) > 0"
    return (
        f"SELECT ppid, '/' || {joined} || ep_name AS value"
        f" FROM eppc WHERE {nonempty}"
    )


def is_test_sql(pack: dict, name_expr: str, file_expr: str) -> str:
    """is_test as data (mod.rs:177-179 default false): a named style.
    'name_prefix' is the go.rs:282 / python.rs:317 / kotlin.rs:252
    family — a CASE-SENSITIVE starts_with rendered via substr (so
    go's 'Test' takes 'Tester', the reference's own behavior, and a
    '_' in 'test_' never wildcards); 'file_delegate' is ruby.rs:
    250-252, which answers with the pack's OWN is_test_file data."""
    spec = pack["is_test"]
    if spec["style"] == "name_prefix":
        p = spec["prefix"]
        return f"CAST(substr({name_expr}, 1, {len(p)}) = {_sq(p)} AS STRING)"
    if spec["style"] != "file_delegate":
        raise KeyError(f"unknown is_test style: {spec['style']}")
    return test_file_sql(pack, file_expr)


def itest_edge_sql() -> str:
    """integration_test_edge_finder as data (mod.rs:231-238 default
    None; ruby.rs:487-499 the one override: find_class(test.name)
    exact-name → a CALLS edge Test→Class, tests whose name matches no
    class emit nothing). A pure equi-join over the itn/kc dims —
    =/|| only, one rendering serves both engines."""
    return (
        "SELECT itn_id, itest_name || ' CALLS Class:' || class_name AS value"
        " FROM itn JOIN kc ON itest_name = class_name"
    )


def dm_within_sql(pack: dict, dialect: str) -> str:
    """use_data_model_within_finder / data_model_within_finder as
    data (mod.rs:119-128 defaults false/empty; ruby.rs:221-249 the
    one override: every function in file {dm.name}{suffix} gets a
    Function-CONTAINS->DataModel edge, CONTROLLER_FILE_SUFFIX
    ruby.rs:16). The candidate file composes the pack's OWN
    data_model_name rules first — in the reference pipeline the
    Datamodel's name has already been inflected when the within pass
    runs — then matches functions by an ends-with probe (the same
    right() rendering component_template's page probe uses)."""
    name = "dm_name"
    if pack.get("data_model_name"):
        name = data_model_name_sql(pack, "dm_name")
    # the pack may additionally re-case the (possibly inflected) name
    # before composing the file — goish's snake_case store-file
    # variant vs railsish's as-is controller suffix
    if pack["dm_within"].get("name_op") == "snake":
        name = _snake_sql(name, dialect)
    cand = f"{name} || {_sq(pack['dm_within']['file_suffix'])}"
    return (
        "SELECT CAST(did AS STRING) || ':' || CAST(pfid AS STRING) AS id,"
        " fn_name || ' CONTAINS ' || dm_name AS value"
        f" FROM dmc JOIN pfc ON right(fn_file, length({cand})) = {cand}"
    )


def lib_file_sql(pack: dict, expr: str) -> str:
    """is_lib_file as data (mod.rs:61-63 default: an absolute path IS
    a library file; react.rs:89-91 / angular.rs:59-61 node_modules
    only; typescript.rs:37-43 the five-condition union): OR'd
    starts_with / contains / suffix lists through the escaped-LIKE
    helper. Unlike the boolean-false-default hooks this one ALWAYS
    has behavior — packs without the key get the trait's
    starts_with('/') default, so the caller renders the arm for
    EVERY pack."""
    from .files import _any, _wild

    spec = pack.get("lib_file") or {"starts_with": ["/"]}
    arms = [_wild(expr, "", s, "%") for s in spec.get("starts_with", [])]
    arms += [_wild(expr, "%", c, "%") for c in spec.get("contains", [])]
    arms += [_wild(expr, "%", s, "") for s in spec.get("suffixes", [])]
    return f"CAST({_any(arms)} AS STRING)"


def trait_operand_sql() -> str:
    """find_trait_operand as data (mod.rs:143-152 default None;
    go.rs:228-246 the one override): the GotoImplementations answer
    (the gic dim — the LSP round-trip stubbed as planted I/O, the
    same treatment the lib-manifest lines get) looked up in the
    trait dim by (line, file) (go.rs:239 find_trait), an OPERAND
    edge Trait→Function on a hit, NOTHING on a miss (go.rs:243 falls
    through to Ok(None)). A pure equi-join — =/|| only, one
    rendering serves both engines."""
    return (
        "SELECT gid, trait_name || ' OPERAND ' || g_fn AS value"
        " FROM gic JOIN trc ON impl_line = t_line AND impl_file = t_file"
    )


def xpage_find_sql(pack: dict, dialect: str) -> str:
    """extra_page_finder as data (mod.rs:272-279 default None), a
    named style per pack, each composing the pack's OWN extra_page
    (is_extra_page) data as its gate — exactly as the pipeline calls
    the finder only on files is_extra_page accepts:

    - 'default_export' (react.rs:817-851): an app-router page
      RENDERS its file's default-export function (the planted
      xexport column — in the reference the name comes from code
      parsing), page-alone when the file exports none;
    - 'controller_pair' (ruby.rs:516-550): a view template's handler
      is the function named after the file stem, looked up in
      {parent_dir}_controller.rb first then the
      strip-'_mailer'+'_mailer.rb' fallback, NOTHING without a
      handler (ruby.rs:548) — rendered as two LEFT JOINs against the
      pfc dim with a controller-first coalesce;
    - 'component_pair' (angular.rs:253-294):
      {base}.component.{html,css,scss} pages pair to class
      {Base}Component declared in {base}.component.ts — the edge
      REVERSED (Class RENDERS Page), page-alone on a miss.

    Every rendering is regexp_extract / regexp_replace / right /
    LIKE over character-class-only patterns (no backslashes), so one
    literal parses identically under Spark and DuckDB string rules;
    the one per-dialect spelling (PascalCase) reuses _pascal_sql."""
    gate = extra_page_sql(pack, "xfile")
    style = pack["xpage_style"]
    if style == "default_export":
        return (
            "SELECT CAST(xid AS STRING) AS id, CASE WHEN xexport <> ''"
            " THEN xfile || ' RENDERS ' || xexport ELSE xfile END AS value"
            f" FROM xpc WHERE {gate}"
        )
    if style == "controller_pair":
        pdir = "regexp_extract(xfile, '([^/]+)/[^/]+$', 1)"
        stem = "regexp_extract(xfile, '/([^/.]+)[.][^/]*$', 1)"
        strip = (
            f"CASE WHEN right({pdir}, 7) = '_mailer'"
            f" THEN substr({pdir}, 1, length({pdir}) - 7) ELSE {pdir} END"
        )
        # GROUP BY xid + min() collapses to ONE row per candidate
        # file: the reference's find_fn returns a single handler
        # (first hit wins, controller before mailer — ruby.rs:536-545
        # then :548), so a second pfc match (or a controller AND a
        # mailer both matching) must not fan out duplicate rows.
        return (
            "SELECT CAST(x.xid AS STRING) AS id,"
            " min(x.xfile) || ' RENDERS '"
            " || min(coalesce(c.fn_name, m.fn_name)) AS value"
            f" FROM (SELECT xid, xfile, {stem} AS stem,"
            f" {pdir} || '_controller.rb' AS ccand,"
            f" ({strip}) || '_mailer.rb' AS mcand FROM xpc WHERE {gate}) x"
            " LEFT JOIN pfc c ON c.fn_name = x.stem"
            " AND right(c.fn_file, length(x.ccand)) = x.ccand"
            " LEFT JOIN pfc m ON m.fn_name = x.stem"
            " AND right(m.fn_file, length(x.mcand)) = x.mcand"
            " WHERE c.fn_name IS NOT NULL OR m.fn_name IS NOT NULL"
            " GROUP BY x.xid"
        )
    if style != "component_pair":
        raise KeyError(f"unknown xpage_style: {style}")
    base = "regexp_extract(xfile, '([^/]+)[.]component[.][a-z]+$', 1)"
    klass = _pascal_sql(f"replace({base}, '-', '_')", dialect) + " || 'Component'"
    tsfile = (
        "regexp_replace(xfile, '[.]component[.](html|css|scss|sass)$', '.component.ts')"
    )
    return (
        "SELECT CAST(x.xid AS STRING) AS id,"
        " CASE WHEN p.fn_name IS NOT NULL"
        " THEN p.fn_name || ' RENDERS ' || x.xfile ELSE x.xfile END AS value"
        f" FROM (SELECT xid, xfile, {tsfile} AS tsfile, {klass} AS klass"
        f" FROM xpc WHERE {gate}) x"
        " LEFT JOIN pfc p ON p.fn_file = x.tsfile AND p.fn_name = x.klass"
    )


def _snake_sql(expr: str, dialect: str) -> str:
    """snake_case: an underscore before every lower-to-upper boundary,
    then lowercase — the one rendering needing a per-dialect group-ref
    spelling (Spark $1, DuckDB backslash-1 + explicit 'g')."""
    ref = "\\1_\\2" if dialect == "duckdb" else "$1_$2"
    flag = ", 'g'" if dialect == "duckdb" else ""
    return f"lower(regexp_replace({expr}, '([a-z0-9])([A-Z])', '{ref}'{flag}))"


def page_name_sql(pack: dict, expr: str) -> str:
    """The page-NAME extraction style as data, completing the
    extra_page family (the gate is extra_page, the finder is
    xpage_style, the node NAME is this hook):

    - 'last_segment' (builder/utils.rs:31-37 get_page_name;
      angular.rs:270 NodeData::name_file): the last path segment,
      extension kept;
    - 'react_router' (react.rs:994-1029 page_name): app-router pages
      take the parent DIRECTORY name; pages-router pages strip the
      script extension then collapse index ('' or 'index' -> 'index',
      'dir/index' -> 'dir', else the last segment); anything else
      falls back to 'page'. Total on any path, like the reference.

    Absent key = page_query None (mod.rs:242-244): no page names."""
    style = pack["page_name"]
    last = f"regexp_extract({expr}, '([^/]+)$', 1)"
    if style == "last_segment":
        return last
    if style != "react_router":
        raise KeyError(f"unknown page_name style: {style}")
    parent = f"regexp_extract({expr}, '([^/]+)/[^/]+$', 1)"
    after = f"regexp_extract({expr}, '/pages/(.*)$', 1)"
    stem = f"regexp_replace({after}, '[.](tsx|jsx|js|ts)$', '')"
    return (
        f"CASE WHEN {expr} LIKE '%/app/%' THEN {parent}"
        f" WHEN {expr} LIKE '%/pages/%' THEN"
        f" CASE WHEN {stem} IN ('index', '') THEN 'index'"
        f" WHEN {stem} LIKE '%/index'"
        f" THEN regexp_extract({stem}, '([^/]+)/index$', 1)"
        f" ELSE regexp_extract({stem}, '([^/]+)$', 1) END"
        f" ELSE 'page' END"
    )


def call_operand_sql(pack: dict) -> str:
    """The operand-emission convention of the pack's
    function_call_query as data (format.rs:750-765 reads ONLY the
    @OPERAND capture; what each grammar binds to it differs —
    python.rs:133-144 single-identifier receivers only,
    go.rs:140-157 whole selector chains but unbound call receivers,
    ruby.rs:137-149 receiver REQUIRED, java.rs:120-134 any node,
    rust.rs:190-211 operand-less method calls + bound module paths,
    cpp.rs:173-197 namespace bound to a non-OPERAND capture).

    Each planted call site is classified into a receiver SHAPE
    (bare / simple / dotted / callres / scoped) by fixed SQL; the
    pack's convention maps shapes to emit (operand || ' OPERAND ' ||
    name), anon (name only — matched but unbound), or drop (the
    query pattern does not match: no row). One rendering parses
    under both dialects (character-class regexps only)."""
    spec = pack["call_operand"]
    shape = (
        "CASE WHEN calltext LIKE '%::%' THEN 'scoped'"
        " WHEN calltext LIKE '%).%' THEN 'callres'"
        " WHEN calltext LIKE '%.%.%' THEN 'dotted'"
        " WHEN calltext LIKE '%.%' THEN 'simple'"
        " ELSE 'bare' END"
    )
    fname = "regexp_extract(calltext, '([A-Za-z_][A-Za-z0-9_]*)[(][)]$', 1)"
    strip_tail = (
        "regexp_replace(calltext, '[.][A-Za-z_][A-Za-z0-9_]*[(][)]$', '')"
    )
    scoped_op = "regexp_extract(calltext, '^([A-Za-z_][A-Za-z0-9_]*)::', 1)"
    conv = (
        f"CASE shape WHEN 'bare' THEN '{spec['bare']}'"
        f" WHEN 'simple' THEN '{spec['simple']}'"
        f" WHEN 'dotted' THEN '{spec['dotted']}'"
        f" WHEN 'callres' THEN '{spec['callres']}'"
        f" ELSE '{spec['scoped']}' END"
    )
    return (
        "SELECT CAST(cxid AS STRING) AS id,"
        " CASE WHEN conv = 'emit' AND opnd <> ''"
        " THEN opnd || ' OPERAND ' || fname ELSE fname END AS value"
        f" FROM (SELECT cxid, fname, opnd, {conv} AS conv FROM"
        f" (SELECT cxid, {shape} AS shape, {fname} AS fname,"
        f" CASE WHEN calltext LIKE '%::%' THEN {scoped_op}"
        f" WHEN calltext LIKE '%.%' THEN {strip_tail}"
        f" ELSE '' END AS opnd FROM cxc) s) t"
        " WHERE conv <> 'drop'"
    )


def restful_routes_sql(pack: dict, dialect: str) -> str:
    """rails_routes.rs:125-230 generate_endpoint_path as data.

    Path = '/' + parent prefixes + resource/item composition:
      * parents (outermost first, the find_endpoint_parents order)
        render as the namespace name or `name/:singular_id` for a
        nested resource (:156-168);
      * collection/member items drop the LAST parent — the walk-up
        captures the own `resources` block (:140-144) — then emit
        `res/item` / `res/:id/item` (:172-181);
      * resource_member items keep all parents and emit
        `res/:singular_id/item` unless the resource is already a
        path part (:182-188);
      * standard actions drop the last parent only when it names the
        resource (:148-153), then append the pack's action-suffix
        table, falling back to the verb rules (:200-230).

    The pack carries the action table, the verb-fallback lists and
    the singularization regex; everything else is this fixed
    composition, rendered per dialect (the list-function vocabulary
    differs: filter/transform/array_join vs list_* and
    array_to_string)."""
    spec = pack["restful_routes"]
    s_pat, s_rep = spec["singular"]
    if dialect == "spark":
        l0 = "filter(split(parents, ','), t -> t <> '')"
        def size(x):
            return f"size({x})"
        def minus_last(x):
            return f"slice({x}, 1, greatest(size({x}) - 1, 0))"
        last = f"element_at({l0}, -1)"
        def transform(x, lam):
            return f"transform({x}, {lam})"
        def join(x):
            return f"array_join({x}, '/')"
        def exists(x, pred):
            return f"size(filter({x}, {pred})) > 0"
    else:
        l0 = "list_filter(string_split(parents, ','), t -> t <> '')"
        def size(x):
            return f"len({x})"
        def minus_last(x):
            return f"list_slice({x}, 1, greatest(len({x}) - 1, 0))"
        last = f"{l0}[-1]"
        def transform(x, lam):
            return f"list_transform({x}, {lam})"
        def join(x):
            return f"coalesce(array_to_string({x}, '/'), '')"
        def exists(x, pred):
            return f"len(list_filter({x}, {pred})) > 0"

    def sing(x):
        return f"regexp_replace({x}, '{s_pat}', '{s_rep}')"

    # token 'ns:name' -> name; 'res:name' -> name/:singular_id
    chunk = (
        "t -> CASE WHEN t LIKE 'ns:%' THEN substr(t, 4)"
        f" ELSE substr(t, 5) || '/:' || {sing('substr(t, 5)')} || '_id' END"
    )
    last_name = f"regexp_extract({last}, '^[a-z]+:(.*)$', 1)"
    l1 = (
        f"CASE WHEN item_type IN ('collection', 'member')"
        f" THEN {minus_last(l0)}"
        f" WHEN item_type = '' AND {size(l0)} > 0 AND {last_name} = res"
        f" THEN {minus_last(l0)}"
        f" ELSE {l0} END"
    )
    has_res = exists("l2", "t -> t = res OR t LIKE res || '/:%'")
    action_arms = " ".join(
        f"WHEN '{a}' THEN '{sfx}'" for a, sfx in spec["actions"]
    )
    verb_in = ", ".join(f"'{v}'" for v in spec["verb_id"])
    get_arms = " ".join(
        f"WHEN verb = 'GET' AND ep_name = '{n}' THEN '{sfx}'"
        for n, sfx in spec["get_names"]
    )
    # a PRESENT-but-unknown action falls to the `_ => ()` arm
    # (rails_routes.rs:214): NO suffix, and the verb fallback is
    # never consulted (it is the None-action branch, :215-217)
    suffix = (
        f"CASE action {action_arms}"
        f" ELSE CASE WHEN action <> '' THEN ''"
        f" WHEN verb IN ({verb_in}) THEN '/:id' {get_arms}"
        f" ELSE '' END END"
    )
    value = (
        "CASE item_type"
        " WHEN 'collection' THEN basep || res || '/' || item_name"
        " WHEN 'member' THEN basep || res || '/:id/' || item_name"
        " WHEN 'resource_member' THEN basep || CASE WHEN has_res THEN ''"
        f" ELSE res || '/:' || {sing('res')} || '_id/' END || item_name"
        # standard actions also skip re-pushing the resource when a
        # KEPT parent already names it (rails_routes.rs:196-198's
        # path_parts.contains check) — basep ends '/', trim it
        " ELSE CASE WHEN has_res"
        " THEN substr(basep, 1, length(basep) - 1)"
        f" ELSE basep || res END || {suffix} END"
    )
    return (
        f"SELECT rrid, {value} AS value FROM"
        f" (SELECT *, CASE WHEN pre = '' THEN '/' ELSE '/' || pre || '/' END"
        f" AS basep, {has_res} AS has_res FROM"
        f" (SELECT *, {join('l2')} AS pre FROM"
        f" (SELECT *, {transform('(' + l1 + ')', chunk)} AS l2"
        f" FROM rrc) a) b) c"
    )


def dialect_surface_body(pack_name: str, pack: dict, dialect: str) -> str:
    """The pack's SQL hook surface over the planted dims as ONE
    UNION-ALL body (pack, kind, id, value) assuming `dc` / `hc` CTEs
    are in scope — identical semantics rendered per dialect, so the
    Spark engine and DuckDB oracle share a single pack definition.
    The extraction arm is NOT here: the engine runs it through the
    Arrow rule-pack executor (the real production path) while the
    oracle uses SQL regexp — see kg_dialects."""
    from .files import should_include_sql

    norm = normalize_request_sql(pack, "raw_path", dialect)
    cls = classify_test_sql(pack, "test_name", dialect)
    pick = handler_pick_sql(pack, dialect)
    body = (
        f"SELECT '{pack_name}' AS pack, 'norm' AS kind, CAST(case_id AS STRING) AS id,"
        f" {norm} AS value FROM dc"
        f" UNION ALL SELECT '{pack_name}', 'test', CAST(case_id AS STRING), {cls} FROM dc"
        f" UNION ALL SELECT '{pack_name}', 'handler', ep,"
        f" conv_id || '#' || CAST(turn_idx AS STRING) FROM ({pick})"
    )
    if pack.get("file_filters"):
        # should_include_sql renders LIKE/IN/= only — already
        # dialect-portable, ONE rendering serves engine and oracle
        inc = should_include_sql("fpath", pack["file_filters"])
        body += (
            f" UNION ALL SELECT '{pack_name}', 'file', fpath,"
            f" CAST({inc} AS STRING) FROM fc"
        )
    if pack.get("lib_manifest"):
        # absent key = the trait's lib_query None default (no
        # Library extraction), mod.rs:58-60
        body += (
            f" UNION ALL SELECT '{pack_name}', 'lib', CAST(lno AS STRING), lib"
            f" FROM ({lib_extract_sql(pack, dialect)})"
        )
    if pack.get("import_resolve"):
        rp, rn = resolve_import_sql(pack, "raw_import")
        body += (
            f" UNION ALL SELECT '{pack_name}', 'import',"
            f" CAST(case_id AS STRING), {rp} FROM ic"
            f" UNION ALL SELECT '{pack_name}', 'impname',"
            f" CAST(case_id AS STRING), {rn} FROM ic"
        )
    if pack.get("clean_edges"):
        # absent key = the trait's no-op default (mod.rs:280)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'clean', CAST(eid AS STRING),"
            f" edge FROM ({clean_edges_sql(pack)})"
        )
    if pack.get("assoc_name"):
        an = assoc_name_sql(pack, "assoc", dialect)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'assoc',"
            f" CAST(aid AS STRING), {an} FROM ac"
        )
    if pack.get("component"):
        # absent key = the trait's constant-false default (mod.rs:66)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'component',"
            f" CAST(fid AS STRING), {is_component_sql(pack, 'fname')} FROM nc"
        )
    if pack.get("endpoint_verb"):
        # absent key = the trait's no-op default (mod.rs:184)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'verb', CAST(vid AS STRING),"
            f" {endpoint_verb_sql(pack, 'call', 'handler')} FROM vc"
        )
    if pack.get("test_file"):
        # absent key = the trait's constant-false default (mod.rs:181)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'testfile', tfname,"
            f" {test_file_sql(pack, 'tfname')} FROM tf"
        )
    if pack.get("dm_path_filter"):
        # absent key = the trait's None default (mod.rs:116-118: no
        # path constraint — here rendered as the arm emitting nothing
        # rather than everything, to keep absent-key = no-rows
        # uniform across hooks); the arm emits SURVIVORS
        body += (
            f" UNION ALL SELECT '{pack_name}', 'dmfile', CAST(did AS STRING),"
            f" dm_file FROM dmc WHERE {_wild_contains('dm_file', pack['dm_path_filter'])}"
        )
    if pack.get("data_model_name"):
        body += (
            f" UNION ALL SELECT '{pack_name}', 'dmname', CAST(did AS STRING),"
            f" {data_model_name_sql(pack, 'dm_name')} FROM dmc"
        )
    if pack.get("e2e_test_id"):
        # absent key = the trait's None default (mod.rs:202-204)
        where, ext = e2e_test_id_sql(pack, "calltext", dialect)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'e2eid', CAST(eeid AS STRING),"
            f" {ext} FROM ec2 WHERE {where}"
        )
    if pack.get("router_file"):
        body += (
            f" UNION ALL SELECT '{pack_name}', 'router', tfname,"
            f" {router_file_sql(pack, 'tfname')} FROM tf"
        )
    if pack.get("ep_path_filter"):
        # absent key = the trait's None default (mod.rs:171-173);
        # like dmfile, the arm emits SURVIVORS
        body += (
            f" UNION ALL SELECT '{pack_name}', 'epfile', CAST(pid AS STRING),"
            f" ep_file FROM epc WHERE {_wild_contains('ep_file', pack['ep_path_filter'])}"
        )
    if pack.get("update_endpoint"):
        # absent key = the trait's no-op default (mod.rs:185)
        ue = update_endpoint_sql(pack, "ep_name", "ep_file", "annot", dialect)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'update', CAST(uid AS STRING),"
            f" {ue} FROM uc"
        )
    if pack.get("extra_page"):
        # absent key = use_extra_page_finder false (mod.rs:266-268)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'xpage', CAST(pgid AS STRING),"
            f" page_file FROM pgc WHERE {extra_page_sql(pack, 'page_file')}"
        )
    if pack.get("dm_class_join"):
        body += (
            f" UNION ALL SELECT '{pack_name}', 'dmclass', CAST(did AS STRING),"
            f" class_name FROM ({dm_class_join_sql(pack, dialect)})"
        )
    if pack.get("component_template"):
        # absent key = component_template_query None + template_ext
        # None (mod.rs:245-247, 263-265): no map, no renders
        smap, renders = component_template_sql(pack, dialect)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'seltpl', sel, tgt FROM ({smap})"
            f" UNION ALL SELECT '{pack_name}', 'renders', id, value"
            f" FROM ({renders})"
        )
    if pack.get("identifier"):
        where, ext = identifier_sql(pack, "decl", dialect)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'ident', CAST(idid AS STRING),"
            f" {ext} FROM idc WHERE {where}"
        )
    if pack.get("parent_resolve"):
        # absent key = the trait's None default (mod.rs:132-141)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'parent', CAST(pfid AS STRING),"
            f" value FROM ({parent_resolve_sql(pack, dialect)})"
        )
    if pack.get("direct_class_calls"):
        # absent/false = the trait's false default (mod.rs:281-283)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'classcall', CAST(clid AS STRING),"
            f" value FROM ({class_calls_sql()})"
        )
    if pack.get("filter_by_implements"):
        # absent/false = no implements filtering (mod.rs:199-201);
        # like dmfile/epfile, the arm emits SURVIVORS
        body += (
            f" UNION ALL SELECT '{pack_name}', 'implements', CAST(pcid AS STRING),"
            f" value FROM ({implements_sql(dialect)})"
        )
    if pack.get("endpoint_group"):
        # absent key = the trait's None default (mod.rs:168-170)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'epgroup', CAST(geid AS STRING),"
            f" value FROM ({endpoint_group_sql(pack, dialect)})"
        )
    if pack.get("ep_parents"):
        # absent key = the trait's empty default (mod.rs:159-167)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'epparents', CAST(ppid AS STRING),"
            f" value FROM ({ep_parents_sql(pack, dialect)})"
        )
    if pack.get("is_test"):
        # absent key = the trait's constant-false default (mod.rs:177)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'istest', CAST(itid AS STRING),"
            f" {is_test_sql(pack, 'ifname', 'iffile')} FROM itf"
        )
    if pack.get("itest_edge"):
        # absent/false = the trait's None default (mod.rs:231-238)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'itedge', CAST(itn_id AS STRING),"
            f" value FROM ({itest_edge_sql()})"
        )
    if pack.get("dm_within"):
        # absent key = use_data_model_within_finder false (mod.rs:119)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'dmwithin', id,"
            f" value FROM ({dm_within_sql(pack, dialect)})"
        )
    # is_lib_file ALWAYS has behavior (mod.rs:61-63: absolute path =>
    # library) — the arm renders for EVERY pack; absent key = the
    # trait's starts_with('/') default, NOT no-rows
    body += (
        f" UNION ALL SELECT '{pack_name}', 'islib', CAST(lfid AS STRING),"
        f" {lib_file_sql(pack, 'lf_path')} FROM lfc"
    )
    if pack.get("trait_operand"):
        # absent/false = the trait's None default (mod.rs:143-152)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'troperand', CAST(gid AS STRING),"
            f" value FROM ({trait_operand_sql()})"
        )
    if pack.get("xpage_style"):
        # absent key = extra_page_finder None (mod.rs:272-279)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'xpfind', id,"
            f" value FROM ({xpage_find_sql(pack, dialect)})"
        )
    if pack.get("page_name"):
        # absent key = page_query None (mod.rs:242-244). The NAME
        # rule is total over any path (react.rs:994 falls back to
        # 'page'), so the arm runs on every planted page file, not
        # just the pack's extra_page survivors.
        body += (
            f" UNION ALL SELECT '{pack_name}', 'pgname', CAST(pgid AS STRING),"
            f" {page_name_sql(pack, 'page_file')} FROM pgc"
        )
    if pack.get("call_operand"):
        body += (
            f" UNION ALL SELECT '{pack_name}', 'opconv', id,"
            f" value FROM ({call_operand_sql(pack)})"
        )
    if pack.get("restful_routes"):
        # absent key = the reference's explicit-path default
        # (rails_routes.rs:126-128: no handler meta, no generation)
        body += (
            f" UNION ALL SELECT '{pack_name}', 'restpath', CAST(rrid AS STRING),"
            f" value FROM ({restful_routes_sql(pack, dialect)})"
        )
    return body


def _dims_with() -> str:
    return (
        f"WITH dc AS ({dialect_cases_cte()}), hc AS ({handler_cases_cte()}),"
        f" fc AS ({file_cases_cte()}), mc AS ({manifest_cases_cte()}),"
        f" ic AS ({import_cases_cte()}), ce AS ({clean_cases_cte()}),"
        f" ac AS ({assoc_cases_cte()}), nc AS ({func_cases_cte()}),"
        f" vc AS ({verb_cases_cte()}), tf AS ({testfile_cases_cte()}),"
        f" dmc AS ({dm_cases_cte()}), ec2 AS ({e2e_cases_cte()}),"
        f" epc AS ({epfile_cases_cte()}), uc AS ({update_cases_cte()}),"
        f" pgc AS ({page_cases_cte()}), kc AS ({class_cases_cte()}),"
        f" cpc AS ({component_cases_cte()}), tplc AS ({template_cases_cte()}),"
        f" idc AS ({ident_cases_cte()}), pcc AS ({pclass_cases_cte()}),"
        f" pfc AS ({pfunc_cases_cte()}), occ AS ({callop_cases_cte()}),"
        f" imc AS ({impl_cases_cte()}), egc AS ({epgroup_cases_cte()}),"
        f" gep AS ({groupep_cases_cte()}), eppc AS ({epparent_cases_cte()}),"
        f" itf AS ({istest_cases_cte()}), itn AS ({itest_cases_cte()}),"
        f" lfc AS ({libf_cases_cte()}), gic AS ({gimpl_cases_cte()}),"
        f" trc AS ({traitd_cases_cte()}), xpc AS ({xpage_cases_cte()}),"
        f" cxc AS ({callx_cases_cte()}), rrc AS ({restroute_cases_cte()}) "
    )


def dialect_surface_sql(pack_name: str, pack: dict, dialect: str) -> str:
    return _dims_with() + dialect_surface_body(pack_name, pack, dialect)


def dialects_oracle_sql(packs: dict[str, dict] | None = None) -> str:
    """The full kg_dialects DuckDB oracle: every pack's hook surface
    PLUS its extraction rules (as SQL regexp — the independent second
    implementation of the Arrow executor) in one WITH query."""
    packs = packs if packs is not None else DIALECT_PACKS
    arms = []
    for name in sorted(packs):
        arms.append(dialect_surface_body(name, packs[name], "duckdb"))
        arms.append(dialect_extract_oracle_sql(name, packs[name]))
    return _dims_with() + " UNION ALL ".join(arms)


def run_dialect_pack(spark, pack_name: str, pack: dict) -> DataFrame:
    """Engine-side evaluation of one pack: the SQL hook surface plus
    the pack's extraction rules through the Arrow-batched rule-pack
    executor (extract.py) over the planted turns."""
    from .extract import extract_mentions_rulepack

    surface = spark.sql(dialect_surface_sql(pack_name, pack, "spark"))
    turns = spark.sql(
        "SELECT 'dialect_conv' AS conv_id, case_id AS turn_idx, text"
        f" FROM ({dialect_cases_cte()})"
    )
    ext = extract_mentions_rulepack(turns, pack["rules"]).drop("rule")
    if all(d for _, _, d in pack["rules"]):
        ext = ext.distinct()
    ext = ext.selectExpr(
        f"'{pack_name}' AS pack",
        "'extract' AS kind",
        "CAST(turn_idx AS STRING) AS id",
        "surface AS value",
    )
    return surface.unionByName(ext)


def dialect_extract_oracle_sql(pack_name: str, pack: dict) -> str:
    """DuckDB rendering of the pack's extraction rules (independent
    second implementation of the Arrow executor's semantics)."""
    arms = []
    for _rname, pattern, distinct in pack["rules"]:
        # the executor emits capture group 1 when the regex has one
        grp = 1 if "(" in pattern.replace("\\(", "").replace("(?:", "") else 0
        sel = (
            f"SELECT case_id, unnest(regexp_extract_all(text, '{pattern}', {grp})) AS surface"
            f" FROM dc"
        )
        if distinct:
            sel = f"SELECT DISTINCT case_id, surface FROM ({sel})"
        arms.append(sel)
    union = " UNION ALL ".join(arms)
    return (
        f"SELECT '{pack_name}' AS pack, 'extract' AS kind,"
        f" CAST(case_id AS STRING) AS id, surface AS value FROM ({union})"
    )
