// Catalyst optimized plan -> one JSON text, read by plans/producer.py.
//
// Compiled once per JVM with Janino (which Spark ships for its own code
// generation), so it is written in the Java subset Janino accepts: raw
// types, no lambdas, no enhanced for over Scala collections.
//
// Every plan and expression node becomes an object:
//   "#k"  productPrefix (the case class's simple name)
//   "#c"  children, in TreeNode order; a constructor field holding one of
//         them is written as {"#": index}
//   "#t"  expressions: dataType().catalogString() (never truncated)
//   "#i"  named expressions: exprId
//   "#p"  aggregate functions: prettyName
//   "#s"  semantic class: equal ids <=> semanticEquals (see semantic())
//   "#o"  plans: output as [name, exprId, catalogString]
//   "#r"  plans, and the expressions of Expand.projections and
//         Generate.generator: referenced exprIds
// plus each named constructor field. Values with no encoder of their own
// are written as their class's simple name, so the producer's
// "unsupported ..." errors still name them.
//
// The text is ASCII-only and handed out in parts that each stay under py4j's
// 8 KB reply buffer: a larger reply is written in two pieces and the second
// waits for the reader's delayed ACK (about 40-50 ms per reply).

import java.util.ArrayList;
import java.util.Base64;
import java.util.HashMap;
import java.util.IdentityHashMap;

import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.catalog.CatalogTable;
import org.apache.spark.sql.catalyst.expressions.Attribute;
import org.apache.spark.sql.catalyst.expressions.AttributeReference;
import org.apache.spark.sql.catalyst.expressions.ExprId;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.InSet;
import org.apache.spark.sql.catalyst.expressions.Literal;
import org.apache.spark.sql.catalyst.expressions.NamedExpression;
import org.apache.spark.sql.catalyst.expressions.NumericEvalContext;
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression;
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction;
import org.apache.spark.sql.catalyst.expressions.aggregate.PivotFirst;
import org.apache.spark.sql.catalyst.plans.logical.Aggregate;
import org.apache.spark.sql.catalyst.plans.logical.Expand;
import org.apache.spark.sql.catalyst.plans.logical.Generate;
import org.apache.spark.sql.catalyst.plans.logical.JoinHint;
import org.apache.spark.sql.catalyst.plans.logical.HintInfo;
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.catalyst.trees.TreeNode;
import org.apache.spark.sql.catalyst.util.ArrayData;
import org.apache.spark.sql.execution.datasources.HadoopFsRelation;
import org.apache.spark.sql.sources.BaseRelation;
import org.apache.spark.sql.types.ArrayType;
import org.apache.spark.sql.types.BinaryType;
import org.apache.spark.sql.types.BooleanType;
import org.apache.spark.sql.types.ByteType;
import org.apache.spark.sql.types.CalendarIntervalType;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DateType;
import org.apache.spark.sql.types.DayTimeIntervalType;
import org.apache.spark.sql.types.Decimal;
import org.apache.spark.sql.types.DecimalType;
import org.apache.spark.sql.types.DoubleType;
import org.apache.spark.sql.types.FloatType;
import org.apache.spark.sql.types.IntegerType;
import org.apache.spark.sql.types.LongType;
import org.apache.spark.sql.types.ShortType;
import org.apache.spark.sql.types.StringType;
import org.apache.spark.sql.types.TimestampNTZType;
import org.apache.spark.sql.types.TimestampType;
import org.apache.spark.sql.types.YearMonthIntervalType;
import org.apache.spark.unsafe.types.CalendarInterval;

public class PlanEncoder {

    // py4j writes a reply as "!ys" + text + "\n" through an 8192-char
    // buffer, doubling each backslash; a part's escaped text stays below
    // this
    static final int PART_CHARS = 8000;

    /** The optimized plan of ``ds`` and its column names, as JSON parts. */
    public Parts optimizedPlan(Dataset ds) {
        Writer w = new Writer();
        StringBuilder sb = w.sb;
        sb.append("{\"names\":[");
        String[] names = ds.schema().fieldNames();
        for (int i = 0; i < names.length; i++) {
            if (i > 0) sb.append(',');
            w.str(names[i]);
        }
        sb.append("],\"plan\":");
        w.node((TreeNode) ds.queryExecution().optimizedPlan(), false);
        sb.append('}');
        return new Parts(sb.toString());
    }

    /** One dump, split for transfer; part 0 starts with "<count>:". */
    public static final class Parts {
        private final ArrayList parts = new ArrayList();

        Parts(String text) {
            int start = 0;
            int width = 12;  // room for the count prefix on part 0
            for (int i = 0; i < text.length(); i++) {
                int w = text.charAt(i) == '\\' ? 2 : 1;
                if (width + w > PART_CHARS) {
                    parts.add(text.substring(start, i));
                    start = i;
                    width = 0;
                }
                width += w;
            }
            parts.add(text.substring(start));
            parts.set(0, parts.size() + ":" + parts.get(0));
        }

        public String part(int i) {
            return (String) parts.get(i);
        }
    }

    static final class Writer {
        final StringBuilder sb = new StringBuilder(8192);
        // canonicalized expression -> semantic class id
        final HashMap semantic = new HashMap();
        int nextSemantic = 0;
        // > 0 while writing an Aggregate's expressions that are matched
        // against its non-attribute grouping expressions
        int semanticAll = 0;

        void node(TreeNode n, boolean withRefs) {
            sb.append("{\"#k\":");
            str(prefix(n));
            scala.collection.Seq kids = n.children();
            IdentityHashMap childIndex = new IdentityHashMap();
            if (kids.size() > 0) {
                sb.append(",\"#c\":[");
                scala.collection.Iterator it = kids.iterator();
                int i = 0;
                while (it.hasNext()) {
                    Object c = it.next();
                    if (i > 0) sb.append(',');
                    childIndex.put(c, Integer.valueOf(i));
                    node((TreeNode) c, false);
                    i++;
                }
                sb.append(']');
            }
            if (n instanceof Expression) {
                expressionMeta((Expression) n, withRefs);
            } else if (n instanceof LogicalPlan) {
                planMeta((LogicalPlan) n);
            }
            boolean aggregate = n instanceof Aggregate
                    && !allAttributes(((Aggregate) n).groupingExpressions());
            scala.Product p = (scala.Product) n;
            for (int i = 0; i < p.productArity(); i++) {
                String name = p.productElementName(i);
                if (name.length() == 0) name = "_" + i;
                if (n instanceof LogicalPlan && name.equals("output")) {
                    continue;  // carried by "#o"
                }
                Object v = p.productElement(i);
                sb.append(',');
                str(name);
                sb.append(':');
                if (n instanceof Literal && name.equals("value")) {
                    internal(v, ((Literal) n).dataType());
                } else if (n instanceof InSet && name.equals("hset")) {
                    internals((scala.collection.Iterable) v,
                           ((InSet) n).child().dataType());
                } else if (n instanceof PivotFirst
                        && name.equals("pivotColumnValues")) {
                    internals((scala.collection.Iterable) v,
                              ((PivotFirst) n).pivotColumn().dataType());
                } else if (n instanceof LocalRelation && name.equals("data")) {
                    rows((scala.collection.Seq) v, ((LocalRelation) n).output());
                } else if (n instanceof Expand && name.equals("projections")) {
                    projections((scala.collection.Seq) v);
                } else if (n instanceof Generate && name.equals("generator")) {
                    node((TreeNode) v, true);
                } else if (aggregate && (name.equals("groupingExpressions")
                        || name.equals("aggregateExpressions"))) {
                    semanticAll++;
                    value(v, childIndex);
                    semanticAll--;
                } else {
                    value(v, childIndex);
                }
            }
            sb.append('}');
        }

        void expressionMeta(Expression e, boolean withRefs) {
            String t = null;
            try {
                t = e.dataType().catalogString();
            } catch (Throwable ignored) {
                // dataType of some internal expressions is not defined
            }
            if (t != null) {
                sb.append(",\"#t\":");
                str(t);
            }
            if (e instanceof NamedExpression) {
                sb.append(",\"#i\":").append(((NamedExpression) e).exprId().id());
            }
            if (e instanceof AggregateFunction) {
                sb.append(",\"#p\":");
                str(e.prettyName());
            }
            if (semanticAll > 0 || e instanceof AggregateExpression) {
                sb.append(",\"#s\":").append(semantic(e));
            }
            if (withRefs) {
                sb.append(",\"#r\":");
                ids(e.references().toSeq());
            }
        }

        void planMeta(LogicalPlan p) {
            sb.append(",\"#o\":[");
            scala.collection.Iterator it = p.output().iterator();
            boolean first = true;
            while (it.hasNext()) {
                Attribute a = (Attribute) it.next();
                if (!first) sb.append(',');
                first = false;
                sb.append('[');
                str(a.name());
                sb.append(',').append(a.exprId().id()).append(',');
                str(a.dataType().catalogString());
                sb.append(']');
            }
            sb.append("],\"#r\":");
            ids(p.references().toSeq());
        }

        /** Equal ids iff Catalyst's semanticEquals holds: both
         *  deterministic and canonically equal. */
        int semantic(Expression e) {
            if (!e.deterministic()) return nextSemantic++;
            Object key = e.canonicalized();
            Integer id = (Integer) semantic.get(key);
            if (id == null) {
                id = Integer.valueOf(nextSemantic++);
                semantic.put(key, id);
            }
            return id.intValue();
        }

        void ids(scala.collection.Seq attrs) {
            sb.append('[');
            scala.collection.Iterator it = attrs.iterator();
            boolean first = true;
            while (it.hasNext()) {
                if (!first) sb.append(',');
                first = false;
                sb.append(((NamedExpression) it.next()).exprId().id());
            }
            sb.append(']');
        }

        void projections(scala.collection.Seq rows) {
            sb.append('[');
            scala.collection.Iterator it = rows.iterator();
            boolean first = true;
            while (it.hasNext()) {
                if (!first) sb.append(',');
                first = false;
                sb.append('[');
                scala.collection.Iterator ex =
                        ((scala.collection.Seq) it.next()).iterator();
                boolean firstExpr = true;
                while (ex.hasNext()) {
                    if (!firstExpr) sb.append(',');
                    firstExpr = false;
                    node((TreeNode) ex.next(), true);
                }
                sb.append(']');
            }
            sb.append(']');
        }

        static boolean allAttributes(scala.collection.Seq exprs) {
            scala.collection.Iterator it = exprs.iterator();
            while (it.hasNext()) {
                if (!(it.next() instanceof AttributeReference)) return false;
            }
            return true;
        }

        /** A constructor field with no encoder of its own; a child of the
         *  node being written is a reference into its "#c". */
        void value(Object v, IdentityHashMap children) {
            Integer ci = v == null ? null : (Integer) children.get(v);
            if (ci != null) {
                sb.append("{\"#\":").append(ci.intValue()).append('}');
            } else if (v == null) {
                sb.append("null");
            } else if (v instanceof TreeNode) {
                node((TreeNode) v, false);
            } else if (v instanceof scala.Option) {
                scala.Option o = (scala.Option) v;
                if (o.isDefined()) value(o.get(), children); else sb.append("null");
            } else if (v instanceof scala.collection.Seq) {
                sb.append('[');
                scala.collection.Iterator it = ((scala.collection.Seq) v).iterator();
                boolean first = true;
                while (it.hasNext()) {
                    if (!first) sb.append(',');
                    first = false;
                    value(it.next(), children);
                }
                sb.append(']');
            } else if (v instanceof scala.Tuple2) {
                scala.Tuple2 t = (scala.Tuple2) v;
                sb.append('[');
                value(t._1(), children);
                sb.append(',');
                value(t._2(), children);
                sb.append(']');
            } else if (v instanceof String) {
                str((String) v);
            } else if (v instanceof Boolean || v instanceof Integer
                    || v instanceof Long || v instanceof Short
                    || v instanceof Byte) {
                sb.append(v.toString());
            } else if (v instanceof Double || v instanceof Float) {
                // Double/Float.toString, as py4j sends them; Python's json
                // reads NaN, Infinity and -Infinity
                sb.append(v.toString());
            } else if (v instanceof DataType) {
                str(((DataType) v).catalogString());
            } else if (v instanceof ExprId) {
                sb.append(((ExprId) v).id());
            } else if (v instanceof JoinHint) {
                JoinHint h = (JoinHint) v;
                sb.append('[');
                strategy(h.leftHint());
                sb.append(',');
                strategy(h.rightHint());
                sb.append(']');
            } else if (v instanceof NumericEvalContext) {
                // arithmetic's evalMode and decimal settings
                scala.Product p = (scala.Product) v;
                sb.append("{\"#k\":");
                str(p.productPrefix());
                for (int i = 0; i < p.productArity(); i++) {
                    sb.append(',');
                    str(p.productElementName(i));
                    sb.append(':');
                    value(p.productElement(i), children);
                }
                sb.append('}');
            } else if (v instanceof CatalogTable) {
                str(((CatalogTable) v).identifier().unquotedString());
            } else if (v instanceof BaseRelation) {
                sb.append("{\"#k\":");
                str(v.getClass().getSimpleName());
                if (v instanceof HadoopFsRelation) {
                    sb.append(",\"rootPaths\":[");
                    scala.collection.Iterator it =
                            ((HadoopFsRelation) v).location().rootPaths().iterator();
                    boolean first = true;
                    while (it.hasNext()) {
                        if (!first) sb.append(',');
                        first = false;
                        str(it.next().toString());
                    }
                    sb.append(']');
                }
                sb.append('}');
            } else if (v instanceof scala.Enumeration.Value || v instanceof Enum) {
                str(v.toString());
            } else if (v instanceof scala.Product
                    && ((scala.Product) v).productArity() == 0
                    && v.getClass().getName().endsWith("$")) {
                str(((scala.Product) v).productPrefix());  // case object
            } else {
                str(v.getClass().getSimpleName());
            }
        }

        void strategy(scala.Option hint) {
            if (hint.isDefined()) {
                scala.Option s = ((HintInfo) hint.get()).strategy();
                if (s.isDefined()) {
                    str(s.get().toString());
                    return;
                }
            }
            sb.append("null");
        }

        /** A Catalyst internal value of type ``t`` (a Literal's value, an
         *  InSet element, a LocalRelation cell, an array element). */
        void internal(Object v, DataType t) {
            if (v == null) {
                sb.append("null");
            } else if (t instanceof BooleanType || t instanceof ByteType
                    || t instanceof ShortType || t instanceof IntegerType
                    || t instanceof LongType || t instanceof FloatType
                    || t instanceof DoubleType || t instanceof DateType
                    || t instanceof TimestampType || t instanceof TimestampNTZType
                    || t instanceof DayTimeIntervalType
                    || t instanceof YearMonthIntervalType) {
                sb.append(v.toString());
            } else if (t instanceof StringType) {
                str(v.toString());
            } else if (t instanceof BinaryType) {
                str(Base64.getEncoder().encodeToString((byte[]) v));
            } else if (t instanceof DecimalType) {
                str(((Decimal) v).toJavaBigDecimal().toPlainString());
            } else if (t instanceof ArrayType) {
                ArrayData a = (ArrayData) v;
                DataType et = ((ArrayType) t).elementType();
                sb.append('[');
                for (int i = 0; i < a.numElements(); i++) {
                    if (i > 0) sb.append(',');
                    internal(a.isNullAt(i) ? null : a.get(i, et), et);
                }
                sb.append(']');
            } else if (t instanceof CalendarIntervalType) {
                CalendarInterval c = (CalendarInterval) v;
                sb.append("{\"months\":").append(c.months)
                  .append(",\"days\":").append(c.days)
                  .append(",\"microseconds\":").append(c.microseconds).append('}');
            } else {
                str(v.getClass().getSimpleName());
            }
        }

        void internals(scala.collection.Iterable vs, DataType t) {
            sb.append('[');
            scala.collection.Iterator it = vs.iterator();
            boolean first = true;
            while (it.hasNext()) {
                if (!first) sb.append(',');
                first = false;
                internal(it.next(), t);
            }
            sb.append(']');
        }

        void rows(scala.collection.Seq data, scala.collection.Seq output) {
            int n = output.size();
            DataType[] types = new DataType[n];
            for (int i = 0; i < n; i++) {
                types[i] = ((Attribute) output.apply(i)).dataType();
            }
            sb.append('[');
            scala.collection.Iterator it = data.iterator();
            boolean first = true;
            while (it.hasNext()) {
                InternalRow r = (InternalRow) it.next();
                if (!first) sb.append(',');
                first = false;
                sb.append('[');
                for (int i = 0; i < n; i++) {
                    if (i > 0) sb.append(',');
                    internal(r.isNullAt(i) ? null : r.get(i, types[i]), types[i]);
                }
                sb.append(']');
            }
            sb.append(']');
        }

        static String prefix(Object n) {
            String p = ((scala.Product) n).productPrefix();
            return p.length() > 0 ? p : n.getClass().getSimpleName();
        }

        /** A JSON string, ASCII-only. */
        void str(String s) {
            sb.append('"');
            for (int i = 0; i < s.length(); i++) {
                char c = s.charAt(i);
                if (c == '"' || c == '\\') {
                    sb.append('\\').append(c);
                } else if (c < 0x20 || c > 0x7e) {
                    String hex = Integer.toHexString(c);
                    sb.append("\\u");
                    for (int k = hex.length(); k < 4; k++) sb.append('0');
                    sb.append(hex);
                } else {
                    sb.append(c);
                }
            }
            sb.append('"');
        }
    }
}
